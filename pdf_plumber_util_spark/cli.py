"""CLI parity layer over the Spark plans (reference cli.py:146-414).

Subcommands mirror the reference's click group:

  extract  pages parquet -> lines + info stage tables (cli.py:146-253)
  analyze  lines stage -> spacing rules + per-doc text report (cli.py:254-313)
  process  extract + analyze + body assembly in one run (cli.py:314-416)
  scan     pattern scan over a lines stage, R2/R3 (pattern_manager semantics)

Thin by design (VERDICT r2 #8): every subcommand composes the existing
plans/operators; ``--profile`` maps to EngineConfig.with_profile
(reference config.py:199-265). llm-analyze is out of scope per SURVEY
§2.13.

This is also the cluster entry point: ``process --resumable`` commits
per url-hash bucket with a lineage/metrics sidecar and skips committed
buckets on re-run (plans/resume.py). Run the file under spark-submit,
whose flags then set master, shuffle partitions and heap:

    zip -qr plumbspark.zip pdf_plumber_util_spark
    spark-submit --master <cluster> --py-files plumbspark.zip \\
        pdf_plumber_util_spark/cli.py process --resumable \\
        --input <pages> --output <dir> [--buckets 256] [--no-resume]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

if __name__ == "__main__" and not __package__:
    # run as a file (spark-submit, python path/to/cli.py): import the
    # package from its parent directory and resolve the relative imports
    # against it
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "pdf_plumber_util_spark"

from .exceptions import EngineError, SchemaMismatchError


def _spark(cores: int | None = None):
    from .session import get_spark

    return get_spark(app_name="pdf-plumber-cli", cores=cores)


def _config(args):
    from .config import DEFAULT

    cfg = DEFAULT
    if getattr(args, "profile", None):
        cfg = cfg.with_profile(args.profile)
    from dataclasses import replace

    overrides = {}
    if getattr(args, "y_tolerance", None) is not None:
        overrides["y_tolerance"] = args.y_tolerance
    if getattr(args, "x_tolerance", None) is not None:
        overrides["x_tolerance"] = args.x_tolerance
    if getattr(args, "drop_boilerplate", False):
        overrides["drop_boilerplate"] = True
    return replace(cfg, **overrides) if overrides else cfg


def _load_pages(spark, path: str):
    return spark.read.parquet(path)


def _common(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--profile", choices=["technical", "academic", "manual", "dense"])
    ap.add_argument("--y-tolerance", type=float, dest="y_tolerance")
    ap.add_argument("--x-tolerance", type=float, dest="x_tolerance")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--drop-boilerplate", action="store_true",
                    dest="drop_boilerplate",
                    help="strip link-dominated / label-sparse blocks "
                         "(text/link-density DOM heuristics) from body text")


def cmd_extract(args) -> int:
    from .plans.extract import extract_lines
    from .plans.io import extraction_info, filter_page_range, write_stage
    from .sources.tokenizer import tokenize_pages

    spark = _spark(args.cores)
    pages = _load_pages(spark, args.input)
    cfg = _config(args)
    words = tokenize_pages(pages)
    lines = extract_lines(pages, cfg)
    if args.page_range:
        lines = filter_page_range(lines, args.page_range)
        words = filter_page_range(words, args.page_range)
    lines_path = write_stage(lines, args.output, args.basename, "lines")
    # re-read the landed stage for the line-side aggregate so the info job
    # reruns the tokenizer only for the word counts (not the whole line
    # pipeline again); each write is its own job, so lineage would
    # otherwise re-execute the pandas tokenizer per branch
    lines_back = spark.read.parquet(lines_path)
    info_path = write_stage(
        extraction_info(lines_back, words), args.output, args.basename, "info"
    )
    print(json.dumps({"lines": lines_path, "info": info_path}))
    return 0


def cmd_analyze(args) -> int:
    from pyspark.sql import functions as F

    from .operators.boundaries import (
        final_boundaries,
        header_footer_candidates,
    )
    from .operators.spacing import contextual_spacing_rules
    from .plans.io import read_lines_stage, render_report, write_stage

    spark = _spark(args.cores)
    lines = read_lines_stage(spark, args.lines)
    rules = contextual_spacing_rules(lines)
    cands = header_footer_candidates(lines)
    doc_bottom = lines.groupBy("url").agg(
        F.max(F.col("bbox")["bottom"]).alias("doc_bottom")
    )
    bounds = final_boundaries(cands, doc_bottom)
    rules_path = write_stage(rules, args.output, args.basename, "rules")

    # K3 text report, driver-side from the tiny aggregates — but only for
    # the urls actually rendered: pick the report set FIRST, then filter
    # every collected frame to it, so the driver materialization is
    # bounded by --report-docs, not corpus size
    report_urls = [
        r["url"]
        for r in lines.select("url").distinct()
        .orderBy("url").limit(args.report_docs).collect()
    ]
    stats = {
        r["url"]: r.asDict()
        for r in lines.filter(F.col("url").isin(report_urls))
        .groupBy("url")
        .agg(
            F.mode("predominant_font").alias("most_common_font"),
            F.mode("predominant_size").alias("most_common_size"),
            F.count("*").alias("total_segments"),
        )
        .collect()
    }
    rule_rows: dict[str, list[dict]] = {}
    for r in rules.filter(F.col("url").isin(report_urls)).collect():
        rule_rows.setdefault(r["url"], []).append(r.asDict())
    bound_rows = {
        r["url"]: r.asDict()
        for r in bounds.filter(F.col("url").isin(report_urls)).collect()
    }
    report_path = os.path.join(args.output, f"{args.basename}_report.txt")
    os.makedirs(args.output, exist_ok=True)
    with open(report_path, "w") as fh:
        for url in sorted(stats)[: args.report_docs]:
            row = dict(stats[url], url=url)
            fh.write(
                render_report(row, rule_rows.get(url, []), bound_rows.get(url))
            )
            fh.write("\n\n")
    print(json.dumps({"rules": rules_path, "report": report_path}))
    return 0


def cmd_process(args) -> int:
    spark = _spark(args.cores)
    pages = _load_pages(spark, args.input)
    if args.resumable:
        from .plans.resume import SIDECAR, delete_dir, run_resumable

        if args.no_resume:
            # Hadoop FS delete, so --output may be hdfs:// or s3a:// too
            delete_dir(spark, f"{args.output}/{SIDECAR}")
        metas = run_resumable(pages, spark, args.output,
                              n_buckets=args.buckets, cfg=_config(args))
        print(json.dumps({"buckets_processed": len(metas),
                          "docs": sum(m["n_docs"] for m in metas),
                          "chars": sum(m["chars_extracted"] for m in metas)}))
        return 0

    from .plans.extract import extract_documents
    from .plans.io import write_stage

    body = extract_documents(pages, _config(args))
    body_path = write_stage(body, args.output, args.basename, "body")
    n = spark.read.parquet(body_path).count()
    print(json.dumps({"body": body_path, "docs": n}))
    return 0


def cmd_scan(args) -> int:
    from .operators.patterns import (
        PATTERN_REGISTRY,
        get_pattern_set,
        load_patterns_file,
        scan_patterns,
        scan_statistics,
    )
    from .plans.io import read_lines_stage, write_stage

    spark = _spark(args.cores)
    lines = read_lines_stage(spark, args.lines)
    registry = dict(PATTERN_REGISTRY)
    if args.patterns_file:
        extra, _sets = load_patterns_file(args.patterns_file)
        registry.update(extra)
    if args.pattern_set:
        registry = get_pattern_set(args.pattern_set, registry)
    matches = scan_patterns(lines, registry=registry)
    m_path = write_stage(matches, args.output, args.basename, "matches")
    s_path = write_stage(
        scan_statistics(matches), args.output, args.basename, "scan_stats"
    )
    print(json.dumps({"matches": m_path, "stats": s_path}))
    return 0


def cmd_dedup(args) -> int:
    """Corpus dedup over a documents table: exact (md5 groupBy) or the
    composed near-dup scale path (LSH bands -> capped-Jaccard verify ->
    connected-component canonical pick). Writes the per-doc canonical
    map and prints cluster stats."""
    from pyspark.sql import functions as F

    from .operators.dedup import exact_duplicates, near_dup_pipeline
    from .plans.io import write_stage

    spark = _spark(args.cores)
    docs = spark.read.parquet(args.input)
    if args.id_col != "doc_id":
        docs = docs.withColumnRenamed(args.id_col, "doc_id")
    if args.text_col != "text":
        docs = docs.withColumnRenamed(args.text_col, "text")
    if args.method == "exact":
        out = exact_duplicates(docs)
    else:
        out = near_dup_pipeline(
            docs, num_hashes=args.num_hashes, band_size=args.band_size,
            k=args.k, threshold=args.threshold, max_df=args.max_df,
        )
    path = write_stage(out, args.output, args.basename, "dedup_map")
    written = spark.read.parquet(path)
    stats = written.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("is_duplicate").cast("long")).alias("duplicates"),
        F.countDistinct("canonical_id").alias("clusters"),
    ).collect()[0]
    print(json.dumps({
        "map": path,
        "docs": stats["docs"],
        "duplicates": int(stats["duplicates"] or 0),
        "clusters": stats["clusters"],
    }))
    return 0


def cmd_index(args) -> int:
    """Build (or extend) the persisted fingerprint index a later curate
    --dedup-index run dedups against: one row per distinct normalized-
    text md5 (operators.dedup.fingerprint_index). With --merge, union an
    existing index in — the snapshot-N+1 refresh."""
    from .operators.dedup import fingerprint_index
    from .plans.io import write_stage

    spark = _spark(args.cores)
    docs = spark.read.parquet(args.input)
    if args.text_col != "text":
        docs = docs.withColumnRenamed(args.text_col, "text")
    idx = fingerprint_index(docs)
    if args.merge:
        dest = os.path.abspath(
            os.path.join(args.output, f"{args.basename}_fingerprints"))
        if os.path.abspath(args.merge) == dest:
            # overwrite-while-reading the same parquet is undefined in
            # Spark; an in-place refresh must write to a new basename
            print(json.dumps({
                "error": "merge path equals the output index path; "
                         "write to a different --output/--basename and "
                         "swap afterwards",
                "merge": args.merge, "dest": dest,
            }), file=sys.stderr)
            return 2
        idx = idx.union(
            spark.read.parquet(args.merge).select("fingerprint")
        ).distinct()
    path = write_stage(idx, args.output, args.basename, "fingerprints")
    n = spark.read.parquet(path).count()
    print(json.dumps({"index": path, "fingerprints": n}))
    return 0


def cmd_curate(args) -> int:
    """End-to-end corpus curation over a documents table — thin wrapper
    over plans/curate.curate_corpus (see its docstring for the gate
    composition and plan shape). Writes the curated corpus (doc_id,
    scrubbed text, per-gate flags) and prints funnel metrics."""
    from pyspark.sql import functions as F

    from .plans.curate import curate_corpus
    from .plans.io import write_stage

    spark = _spark(args.cores)

    def _load(path):
        df = spark.read.parquet(path)
        if args.id_col != "doc_id":
            df = df.withColumnRenamed(args.id_col, "doc_id")
        if args.text_col != "text":
            df = df.withColumnRenamed(args.text_col, "text")
        return df

    docs = _load(args.input)
    rules = ([d.strip() for d in args.block_domains.split(",") if d.strip()]
             if args.block_domains else None)
    out = curate_corpus(
        docs,
        min_words=args.min_words,
        eval_docs=_load(args.eval_input) if args.eval_input else None,
        decontaminate_ngram=args.decontaminate_ngram,
        block_domains=rules,
        max_dup_span_frac=args.max_dup_span_frac,
        span_words=args.span_words,
        span_stride=args.span_stride,
        mix_rates=json.loads(args.mix_rates) if args.mix_rates else None,
        mix_salt=args.mix_salt,
        drop_perplexity_tail=args.perplexity_bucket,
        quality_model=(spark.read.parquet(args.quality_model)
                       if args.quality_model else None),
        model_bias=args.model_bias,
        model_threshold=args.model_threshold,
        dedup_index=(spark.read.parquet(args.dedup_index)
                     if args.dedup_index else None),
        drop_dup_paragraphs=args.drop_dup_paragraphs,
    )
    report_path = None
    report_actions: dict[str, int] = {}
    if args.dedup_report:
        from .operators.dedup import dedup_report

        rep = dedup_report(
            docs,
            span_words=args.span_words,
            stride=args.span_stride,
        )
        report_path = write_stage(
            rep, args.output, args.basename, "dedup_report"
        )
        report_actions = {
            r["action"]: int(r["n"])
            for r in spark.read.parquet(report_path)
            .groupBy("action").agg(F.count("*").alias("n")).collect()
        }
    path = write_stage(out, args.output, args.basename, "curated")
    written = spark.read.parquet(path)
    funnel = written.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("domain_keep").cast("long")).alias("domain_pass"),
        F.sum(F.col("span_keep").cast("long")).alias("span_pass"),
        F.sum(F.col("quality_keep").cast("long")).alias("quality_pass"),
        F.sum(F.col("repetition_keep").cast("long")).alias("repetition_pass"),
        F.sum(F.col("perplexity_keep").cast("long")).alias("perplexity_pass"),
        F.sum(F.col("classifier_keep").cast("long")).alias("classifier_pass"),
        F.sum((~F.col("is_duplicate")).cast("long")).alias("unique"),
        F.sum((~F.col("is_contaminated")).cast("long")).alias("clean"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum("n_pii_redactions").alias("pii_redactions"),
    ).collect()[0]
    result = {"curated": path, **{k: int(funnel[k] or 0)
                                  for k in funnel.asDict()}}
    if report_path is not None:
        result["dedup_report"] = report_path
        result["dedup_actions"] = report_actions
    print(json.dumps(result))
    return 0


def cmd_train_model(args) -> int:
    """Train the (word, weight) linear quality model on a labeled
    documents table (operators.text_analysis.train_logreg_words) and
    write it as the parquet `curate --quality-model` consumes."""
    from pyspark.sql import functions as F

    from .operators.text_analysis import train_logreg_words
    from .plans.io import write_stage

    spark = _spark(args.cores)
    docs = spark.read.parquet(args.input)
    for src, dst in ((args.id_col, "doc_id"), (args.text_col, "text"),
                     (args.label_col, "label")):
        if src != dst:
            docs = docs.withColumnRenamed(src, dst)
    w = train_logreg_words(
        docs, label_col="label", steps=args.steps, lr=args.lr
    )
    path = write_stage(w, args.output, args.basename, "quality_model")
    model = spark.read.parquet(path)
    stats = model.agg(
        F.count("*").alias("vocab"),
        F.sum((F.col("weight") > 0).cast("long")).alias("positive"),
    ).collect()[0]
    print(json.dumps({
        "model": path,
        "vocab": int(stats["vocab"]),
        "positive_weights": int(stats["positive"] or 0),
        "steps": args.steps,
    }))
    return 0


def cmd_shards(args) -> int:
    """Deterministic global shuffle + shard layout (webtext.shuffle_shards):
    writes the documents joined with their (shard, pos, sort_key)
    assignment, partitioned by shard — the training-data writer's final
    'shuffle once, shard into N files' step."""
    from pyspark.sql import functions as F

    from .operators.webtext import shuffle_shards

    spark = _spark(args.cores)
    docs = spark.read.parquet(args.input)
    if args.id_col != "doc_id":
        docs = docs.withColumnRenamed(args.id_col, "doc_id")
    token_col = args.token_col
    if token_col is None:
        token_col = "n_chars" if "n_chars" in docs.columns else None
    elif token_col not in docs.columns:
        raise SchemaMismatchError(
            args.input, [token_col], docs.columns,
            suggestion="Name an existing column with --token-col, or omit "
                       "it to use n_chars (0 tokens when that is absent)",
        )
    plan = shuffle_shards(
        docs.withColumn("_tok", F.coalesce(F.col(token_col), F.lit(0)))
        if token_col else docs.withColumn("_tok", F.lit(0)),
        n_shards=args.n_shards, salt=args.salt, token_col="_tok",
    )
    out = docs.join(plan.select("doc_id", "shard", "pos", "sort_key"),
                    "doc_id")
    path = os.path.join(args.output, f"{args.basename}_shards")
    (
        out.repartition(args.n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    )
    per_shard = plan.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    ).orderBy("shard").collect()  # n_shards rows — parameter-bounded
    print(json.dumps({
        "shards": path,
        "n_shards": args.n_shards,
        "salt": args.salt,
        "per_shard": [
            {"shard": int(r.shard), "n_docs": int(r.n_docs),
             "n_tokens": int(r.n_tokens or 0)}
            for r in per_shard
        ],
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pdf-plumber-spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="pages -> lines/info stage tables")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--page-range", default=None, help="e.g. '1-3,5'")
    _common(p)
    p.set_defaults(fn=cmd_extract)

    p = sub.add_parser("analyze", help="lines stage -> rules + report")
    p.add_argument("--lines", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--report-docs", type=int, default=5)
    _common(p)
    p.set_defaults(fn=cmd_analyze)

    p = sub.add_parser("process", help="pages -> body text (extract+analyze)")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--resumable", action="store_true",
                   help="land the body table under --output partitioned by "
                        "url-hash bucket, skipping buckets committed by an "
                        "earlier run")
    p.add_argument("--buckets", type=int, default=256,
                   help="with --resumable: url-hash commit buckets "
                        "(Iceberg: bucket(N, url))")
    p.add_argument("--no-resume", action="store_true", dest="no_resume",
                   help="with --resumable: forget committed buckets and "
                        "reprocess everything")
    _common(p)
    p.set_defaults(fn=cmd_process)

    p = sub.add_parser("scan", help="pattern scan over a lines stage")
    p.add_argument("--lines", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--patterns-file", default=None, help="YAML pattern file")
    p.add_argument("--pattern-set", default=None)
    _common(p)
    p.set_defaults(fn=cmd_scan)

    p = sub.add_parser("dedup", help="documents -> canonical dedup map")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--method", choices=["exact", "neardup"], default="neardup")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--num-hashes", type=int, default=8)
    p.add_argument("--band-size", type=int, default=2)
    p.add_argument("--k", type=int, default=3)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--max-df", type=int, default=1000)
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser(
        "index",
        help="documents -> persisted fingerprint index (for curate "
             "--dedup-index / incremental snapshot dedup)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--text-col", default="text")
    p.add_argument("--merge", default=None,
                   help="existing index parquet to union in (refresh)")
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser(
        "curate",
        help="documents -> curated corpus (quality/repetition gates, "
             "dedup, decontamination, PII scrub, optional mix sample)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-words", type=int, default=50)
    p.add_argument("--block-domains", default=None,
                   help="comma-separated domain blocklist (label-suffix "
                        "match); needs a url column")
    p.add_argument("--max-dup-span-frac", type=float, default=None,
                   help="drop docs whose duplicated-span token coverage "
                        "(ExactSubstr sliding windows) exceeds this")
    p.add_argument("--span-words", type=int, default=20)
    p.add_argument("--span-stride", type=int, default=5)
    p.add_argument("--eval-input", default=None,
                   help="benchmark parquet; docs sharing an n-gram with "
                        "it are dropped")
    p.add_argument("--decontaminate-ngram", type=int, default=13)
    p.add_argument("--mix-rates", default=None,
                   help='JSON lang->rate map, e.g. \'{"en": 0.5}\'')
    p.add_argument("--mix-salt", default="mix1")
    p.add_argument("--perplexity-bucket", action="store_true",
                   help="CCNet head/middle/tail gate: estimate tertile "
                        "cutoffs from the corpus (approx_percentile, per "
                        "lang when present) and drop the tail bucket")
    p.add_argument("--quality-model", default=None,
                   help="parquet (word, weight) linear quality model; "
                        "docs scoring below --model-threshold are dropped")
    p.add_argument("--model-bias", type=float, default=0.0)
    p.add_argument("--model-threshold", type=float, default=0.5)
    p.add_argument("--dedup-index", default=None,
                   help="parquet fingerprint index of the prior corpus "
                        "(see the index subcommand); docs already in it "
                        "are dropped as duplicates")
    p.add_argument("--drop-dup-paragraphs", action="store_true",
                   help="pre-clean: remove cross-doc near-duplicate "
                        "paragraphs (MinHash-LSH at paragraph "
                        "granularity) before the gates run")
    p.add_argument("--dedup-report", action="store_true",
                   help="also write {basename}_dedup_report: per-doc "
                        "exact/near/span dedup verdicts with one action "
                        "(drop_exact > drop_near > trim_spans > keep)")
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser(
        "train-model",
        help="labeled documents -> (word, weight) linear quality model "
             "(distributed logistic regression; feed to curate "
             "--quality-model)",
    )
    p.add_argument("--input", required=True,
                   help="parquet with doc_id, text and a boolean/0-1 "
                        "label column")
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--label-col", default="label")
    p.add_argument("--steps", type=int, default=5)
    p.add_argument("--lr", type=float, default=1.0)
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_train_model)

    p = sub.add_parser(
        "shards",
        help="documents -> deterministic shuffled shard layout "
             "(md5-keyed order, partitioned-by-shard parquet)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--basename", default="doc")
    p.add_argument("--n-shards", type=int, default=16)
    p.add_argument("--salt", default="shard1",
                   help="re-salt for an independent epoch shuffle")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--token-col", default=None,
                   help="per-doc token count column (default: n_chars "
                        "when present, else 0); an absent named column "
                        "is an error")
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_shards)

    args = ap.parse_args(argv)
    try:
        return args.fn(args)
    except EngineError as e:
        # reference CLI error pipeline (cli.py handle_* paths): render the
        # message + suggestion + context, exit nonzero instead of a trace
        print(e.render(), file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
