"""Config-file driven pipelines — the reference's UX
(``mmore process --config-file``/``mmore postprocess``), Spark-native.

Accepts the reference's own YAML shapes
(/root/reference/production-config/process/config.yaml: ``data_path`` +
``dispatcher_config``; postprocessor/config.yaml: a ``pp_modules`` chain
of ``{type, args}`` entries) and builds the corresponding DataFrame
pipeline.  Supported module types mirror the reference registries
(post_processor/__init__.py:14-40, tagger/__init__.py:10-15,
filter/datatrove_wrapper.py:27-39):

    taggers   modalities_counter words_counter lang_detector file_namer
    filters   filter_language filter_gopher-repetition
              filter_gopher-quality filter_fineweb filter_c4 sampler
              filter_regex filter_lambda filter_unigram-logprob
              filter_url
    stages    chunker (chunking_strategy/chunk_size) · translator ·
              metafuse · ner (mention + triple extraction)

Unknown args are ignored with a warning (the reference carries
model-specific knobs — whisper/marker batch sizes — that have no Spark
analog); ``filter_fasttext`` needs a model file and raises without
one.
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

log = logging.getLogger(__name__)


def load_config(path: str) -> dict:
    import yaml

    with open(path) as f:
        return yaml.safe_load(f)


def run_process(spark: SparkSession, cfg: dict, incremental: bool = True,
                metrics: dict | None = None) -> DataFrame:
    """The ``mmore process`` entrypoint: crawl + route + parse files under
    ``data_path`` (sources/registry.scan_and_parse), one row per file
    with per-file error isolation.

    Incremental reuse is ON by default, matching the reference
    (run_process.py:147-177): when previous results exist — at
    ``previous_results`` if configured, else at the output path — files
    with mtime ≤ their previous processed_at are REUSED without
    re-parsing (the skip set prunes the scan before the Arrow parse
    stage), new/modified files parse, and files gone from the crawl drop
    from the merged output.  ``incremental=False`` (the CLI's
    ``--no-incremental``) reprocesses everything.  The merged output is
    written with a tmp-dir + directory-swap (io/tables.replace_table)
    because its plan reads the table it replaces."""
    import os

    from ..io import tables
    from ..operators.incremental import (
        deleted_keys, merge_results, split_reusable_process)
    from ..sources.registry import scan_and_parse

    dispatcher = cfg.get("dispatcher_config", {})
    out_path = dispatcher.get("output_path")
    prev_path = cfg.get("previous_results") or out_path
    prev = None
    if incremental and prev_path and os.path.isdir(prev_path):
        try:
            prev = tables.read_table(spark, prev_path)
        except Exception:
            log.warning("previous results at %s unreadable; full reprocess",
                        prev_path)
        if prev is not None and "processed_at" not in prev.columns:
            prev = None  # pre-incremental output: no timestamps to compare

    if prev is None:
        out = scan_and_parse(spark, cfg["data_path"]).withColumn(
            "processed_at", F.current_timestamp())
        if metrics is not None:
            metrics.update({"reused": 0, "deleted": 0})
        if out_path:
            tables.replace_table(spark, out_path, out, stage="process")
            out = tables.read_table(spark, out_path)
        return out

    crawled = (
        spark.read.format("binaryFile").load(cfg["data_path"])
        .select(F.col("path").alias("file_path"),
                F.col("modificationTime").alias("mtime"))
    )
    reusable, to_process = split_reusable_process(crawled, prev)
    todo = to_process.select("file_path").persist()
    n_todo = todo.count()
    reused = prev.join(reusable.select("file_path"), "file_path", "left_semi")
    if n_todo == 0:
        new_rows = spark.createDataFrame([], reused.schema)
    else:
        new_rows = scan_and_parse(
            spark, cfg["data_path"], only_paths=todo
        ).withColumn("processed_at", F.current_timestamp())
    current = crawled.select("file_path")
    out = merge_results(reused, new_rows, current)
    deleted = deleted_keys(prev, current)
    if metrics is not None:
        metrics["processed"] = n_todo
        metrics["reused"] = reused.count()
        metrics["deleted"] = deleted.count()
    if out_path:
        if n_todo == 0 and prev_path == out_path and deleted.isEmpty():
            # nothing parsed, nothing deleted: the table on disk already
            # IS the merged result — skip the full rewrite (the dominant
            # no-change cost; measured 9.9 → ~2 s on a 300-file corpus,
            # scripts/incremental_bench.py)
            out = tables.read_table(spark, out_path)
        else:
            tables.replace_table(spark, out_path, out, stage="process")
            out = tables.read_table(spark, out_path)
    todo.unpersist()
    return out


def _id_col(df: DataFrame) -> str:
    return "doc_id" if "doc_id" in df.columns else "file_path"


def _template_to_format(template: str) -> tuple[str, list[str]]:
    """'Content from {file_name}' → ('Content from %s', ['file_name'])."""
    keys = re.findall(r"\{(\w+)\}", template)
    return re.sub(r"\{\w+\}", "%s", template), keys


def _build_filter(mtype: str, args: dict):
    from ..operators import filters as FL

    if mtype == "filter_language":
        return FL.filter_language(
            allowed=tuple(args.get("languages", ("en",))))
    if mtype == "filter_gopher-repetition":
        return FL.filter_gopher_repetition(
            max_top_word_ratio=args.get("top_n_grams", None)
            or args.get("max_top_word_ratio", 0.2))
    if mtype == "filter_gopher-quality":
        return FL.filter_gopher_quality(
            min_words=args.get("min_doc_words", 5))
    if mtype == "filter_fineweb":
        return FL.filter_fineweb()
    if mtype == "filter_c4":
        return FL.filter_c4_quality()
    if mtype == "sampler":
        return FL.sampler(rate=args.get("rate", 0.5))
    if mtype == "filter_regex":
        return FL.filter_regex(args["regex_exp"] if "regex_exp" in args
                               else args["pattern"])
    if mtype == "filter_url":
        return FL.filter_url(
            blocked=tuple(args.get("extra_domains",
                                   args.get("blocked", ("spam", "adult")))))
    if mtype == "filter_lambda":
        # the FilterFn seam IS the lambda filter: accept a python
        # expression over columns (trusted config, as in the reference)
        return lambda df: F.expr(args["filter_expr"])
    if mtype == "filter_fasttext":
        import os as _os

        model_path = args.get("model_url") or args.get("model_path") or ""
        if model_path and _os.path.exists(model_path):
            # a real fasttext model.bin: classify via the pure-numpy
            # loader (operators/fasttext_bin) and keep rows whose best
            # label is in keep_labels (datatrove's keep semantics)
            keep = set(args.get("keep_labels") or ["__label__hq"])
            thr = float(args.get("filter_threshold", 0.5))

            def apply_ft(df):
                from ..operators.fasttext_bin import fasttext_classify

                scored = fasttext_classify(df, model_path)
                return scored.filter(
                    F.col("ft_label").isin(list(keep))
                    & (F.col("ft_prob") >= thr)
                ).drop("ft_label", "ft_prob")

            apply_ft._is_stage = True  # whole-DataFrame stage, not a column
            return apply_ft
        raise NotImplementedError(
            "filter_fasttext needs a model file (model_url/model_path "
            "pointing at a fasttext .bin — loaded natively by "
            "operators/fasttext_bin)")
    raise ValueError(f"unrecognized filter type: {mtype}")


def apply_pp_modules(df: DataFrame, modules: list[dict]) -> DataFrame:
    """Chain the reference's postprocessor modules over a samples
    DataFrame (text + optional modalities/spans columns)."""
    from ..operators import extract, filters as FL, taggers as TG
    from ..operators.chunker import chunk_stage
    from ..operators.translator import translate_stage

    for mod in modules:
        mtype = mod["type"] if isinstance(mod, dict) else mod.type
        args = dict((mod.get("args") if isinstance(mod, dict) else None) or {})
        if mtype == "words_counter":
            df = TG.apply_taggers(df, TG.words_counter().alias("word_count"))
        elif mtype == "modalities_counter":
            col = "spans" if "spans" in df.columns else "modalities"
            df = df.withColumn("modalities_count",
                               F.size(F.coalesce(F.col(col), F.array())))
        elif mtype == "lang_detector":
            df = TG.apply_taggers(df, TG.lang_heuristic().alias("lang"))
        elif mtype == "file_namer":
            src = "file_path" if "file_path" in df.columns else _id_col(df)
            df = TG.apply_taggers(df, TG.file_namer(src).alias("file_name"))
        elif mtype == "chunker":
            strategy = args.pop("chunking_strategy", "sentence")
            size = args.pop("chunk_size", None) or 512
            if "modalities" not in df.columns:
                df = df.withColumn("modalities", F.expr(
                    "CAST(array() AS array<struct<kind:string,"
                    "media_ref:string>>)"))
            idc = _id_col(df)
            keep = df.drop("text", "modalities")
            chunks = chunk_stage(
                df.withColumnRenamed(idc, "doc_id") if idc != "doc_id" else df,
                chunk_size=size, strategy=strategy)
            chunks = (chunks.withColumnRenamed("doc_id", idc)
                      if idc != "doc_id" else chunks)
            df = chunks.join(keep, idc)
        elif mtype == "translator":
            if "lang" not in df.columns:
                df = TG.apply_taggers(df, TG.lang_heuristic().alias("lang"))
            skip = (args.get("target_language", "en"),)
            idc = _id_col(df)
            keep = df.drop("text")
            translated = translate_stage(
                df.withColumnRenamed(idc, "doc_id") if idc != "doc_id" else df,
                skip_langs=skip)
            translated = (translated.withColumnRenamed("doc_id", idc)
                          if idc != "doc_id" else translated)
            df = translated.drop("lang").join(keep, idc)
        elif mtype == "metafuse":
            fmt, keys = _template_to_format(
                args.get("content_template", "{file_name}"))
            prepend = args.get("position", "beginning") == "beginning"
            df = df.withColumn("text", TG.metafuse(
                fmt, prepend=prepend, **{k: k for k in keys}))
        elif mtype == "ner":
            idc = _id_col(df)
            base = (df.withColumnRenamed(idc, "doc_id")
                    if idc != "doc_id" else df)
            ext = extract.extract_combined(base, "text").select(
                F.col("doc_id").alias(idc), "entities", "triples")
            df = df.join(ext, idc)
        elif mtype == "filter_unigram-logprob":
            thr = args.get("logprobs_threshold", args.get("threshold", -6.0))
            idc = _id_col(df)
            base = (df.withColumnRenamed(idc, "doc_id")
                    if idc != "doc_id" else df)
            sc = FL.unigram_logprob_scores(base).select(
                F.col("doc_id").alias(idc), "avg_logprob")
            df = (df.join(sc, idc)
                  .filter(F.col("avg_logprob") >= thr).drop("avg_logprob"))
        elif mtype.startswith("filter") or mtype == "sampler":
            fn = _build_filter(mtype, args)
            if getattr(fn, "_is_stage", False):
                df = fn(df)  # whole-DataFrame stage (fasttext classify)
            else:
                df = FL.apply_filters(
                    df, {mtype: fn},
                    rejected_path=args.get("exclusion_writer"))
        else:
            raise ValueError(f"unrecognized pp module type: {mtype}")
    return df


def run_postprocess(df: DataFrame, cfg: dict, incremental: bool = True,
                    metrics: dict | None = None) -> DataFrame:
    """The ``mmore postprocess`` entrypoint over a processed samples
    DataFrame: apply the pp_modules chain; write merged output (and the
    reference's save_each_step is the KGPipeline per-stage write — use
    plans.pipeline for lineage-tracked materialization).

    The reference's postprocess half of the reuse matrix
    (incremental.py:84-107, pipeline.py:122-196) applies by default when
    previous results exist at the output path (or ``previous_results``)
    AND both sides carry ``processed_at``: inputs whose timestamp ≤ the
    minimum cached timestamp for their key are REUSED from the previous
    output without re-running the module chain.  Rows deleted from the
    input drop from the merged output.  Changing ``pp_modules`` between
    runs changes the output schema — rerun with ``incremental=False``
    (the CLI's ``--no-incremental``) in that case."""
    import os

    from ..io import tables
    from ..operators.incremental import (
        merge_results, split_reusable_postprocess)

    ocfg = cfg.get("output", {})
    out_path = ocfg.get("output_path")
    prev_path = cfg.get("previous_results") or out_path
    idc = _id_col(df)
    prev = None
    if (incremental and prev_path and os.path.isdir(prev_path)
            and "processed_at" in df.columns):
        try:
            prev = tables.read_table(df.sparkSession, prev_path)
        except Exception:
            log.warning("previous postprocess results at %s unreadable; "
                        "full rerun", prev_path)
        if prev is not None and ("processed_at" not in prev.columns
                                 or idc not in prev.columns):
            prev = None

    if prev is None:
        out = apply_pp_modules(df, cfg.get("pp_modules", []))
        if out_path:
            tables.replace_table(df.sparkSession, out_path, out,
                                 stage="postprocess")
            out = tables.read_table(df.sparkSession, out_path)
        return out

    reusable, todo = split_reusable_postprocess(df, prev, key=idc)
    todo = todo.persist()
    n_todo = todo.count()
    reused = prev.join(reusable.select(idc), idc, "left_semi")
    current = df.select(idc).distinct()
    deleted = prev.select(idc).distinct().join(current, idc, "left_anti")
    if n_todo == 0:
        out = reused.join(current, idc, "left_semi")
    else:
        new_rows = apply_pp_modules(todo, cfg.get("pp_modules", []))
        out = merge_results(reused, new_rows, current, key=idc)
    if metrics is not None:
        metrics["processed"] = n_todo
        metrics["reused"] = reusable.select(idc).distinct().count()
        metrics["deleted"] = deleted.count()
    if out_path:
        if n_todo == 0 and prev_path == out_path and deleted.isEmpty():
            out = tables.read_table(df.sparkSession, out_path)
        else:
            tables.replace_table(df.sparkSession, out_path, out,
                                 stage="postprocess")
            out = tables.read_table(df.sparkSession, out_path)
    todo.unpersist()
    return out
