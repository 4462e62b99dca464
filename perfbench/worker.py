"""One measured run of one workload in a fresh process.

Launched by perfbench/run.py, pinned to the host's cores. It times
`get_spark` (the set-up), then calls the workload's main entry point back
to back (a closed loop with one caller) until the measuring window ends,
checking every call's output outside the timed region. With --trace it
also records spans around the calls into each layer, turns the Spark
event log on, and derives the per-layer metrics after the loop.

Writes one JSON document to --out. A call that raises counts all its
operations as failed, ends the loop, and leaves the per-layer metrics
out; the result is written all the same.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

import pyarrow.parquet as pq

# the 18 leaves of the registry headline (cold, first execution)
HEADLINE = [
    "extract_article", "extract_validate", "pricing_summary",
    "region_revenue", "top_order_per_customer", "sessionize",
    "asof_last_view", "running_value", "dedup_exact",
    "minhash_signatures", "ngram_jaccard_probe", "ann_cosine_topk",
    "text_metrics", "simhash", "winnow_fingerprint", "next_right_word_2d",
    "best_config", "curation_funnel",
]
# the leaves that extract one page per row of the documents table
EXTRACTION_LEAVES = ("extract_article", "extract_validate")

PIPELINE_RULES = ("dedup", "quality", "neardup")
PACK_WORDS = 2048
KERNEL_SAMPLE = 300


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _read_rows(path: str, cols: list[str]) -> dict[str, list]:
    """Columns of a parquet file or (hive-partitioned) directory; a
    timestamp column comes back as integer microseconds."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=cols)
    out = {}
    for c in cols:
        col = t.column(c)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        out[c] = col.to_pylist()
    return out


def export_digest(out_dir: str) -> str:
    """Order-independent digest of the exported JSONL records."""
    import glob
    import gzip
    import hashlib

    lines = []
    for path in glob.glob(os.path.join(out_dir, "*.jsonl.gz")):
        with gzip.open(path, "rb") as f:
            lines.extend(hashlib.md5(x).hexdigest() for x in f)
    return hashlib.md5("".join(sorted(lines)).encode()).hexdigest()


class PipelineRecrawl:
    # the layers' public entry points that run_pipeline calls, each
    # opening the stage it starts: (module, function, layer, stage)
    STAGES = [
        ("document_ai_spark.operators.crawldiff", "crawl_diff",
         "crawldiff", "incremental"),
        ("document_ai_spark.operators.lineage", "run_extraction_job",
         "extraction", "extract"),
        ("document_ai_spark.operators.curate", "adaptive_collapse",
         "curate", "curate"),
        ("document_ai_spark.operators.chunking", "chunk_documents",
         "chunking", "chunk"),
        ("document_ai_spark.operators.chunking", "pack_sequences",
         "chunking", "pack"),
        ("document_ai_spark.sources.jsonl", "write_jsonl",
         "sources", "export"),
    ]

    def __init__(self, spark, inputs: str, work: str, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.old = os.path.join(inputs, "old.parquet")
        self.new = os.path.join(inputs, "new.parquet")
        with open(os.path.join(inputs, "plan.json")) as f:
            self.plan = json.load(f)
        g = _read_rows(os.path.join(inputs, "golden.parquet"),
                       ["url", "warc_ts", "expected_text",
                        "expected_parse_ok"])
        # golden of every crawl row, and the text curation must keep: the
        # newest row of each url
        self.golden = {}
        newest = {}
        for u, ts, x, ok in zip(g["url"], g["warc_ts"], g["expected_text"],
                                g["expected_parse_ok"]):
            self.golden[(u, ts)] = (x, ok)
            if u not in newest or ts > newest[u][0]:
                newest[u] = (ts, x)
        self.kept_text = {u: x for u, (_, x) in newest.items()}
        delta = set(self.plan["delta_urls"])
        self.delta_rows = {k for k in self.golden if k[0] in delta}
        self.n_docs = pq.ParquetFile(self.new).metadata.num_rows
        self.summaries: list[dict] = []
        self.digests: list[str] = []
        self.last_workdir: str | None = None

    @contextmanager
    def _stage_markers(self):
        import importlib

        saved = []
        for mod_name, fn_name, layer, stage in self.STAGES:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name)
            saved.append((mod, fn_name, fn))

            def marked(*a, _fn=fn, _layer=layer, _stage=stage, **kw):
                self.tracer.mark(_layer, _stage)
                return _fn(*a, **kw)

            setattr(mod, fn_name, marked)
        try:
            yield
        finally:
            self.tracer.close_markers()
            for mod, fn_name, fn in saved:
                setattr(mod, fn_name, fn)

    def call(self, i: int) -> dict:
        from document_ai_spark.pipeline import run_pipeline

        if self.last_workdir:
            shutil.rmtree(self.last_workdir, ignore_errors=True)
        wd = os.path.join(self.work, f"iter{i}")
        span = (self.tracer.span("pipeline", "run_pipeline")
                if self.tracer else nullcontext())
        markers = self._stage_markers() if self.tracer else nullcontext()
        self.last_workdir = wd
        t0 = time.perf_counter()
        try:
            with span, markers:
                summary = run_pipeline(
                    self.spark, self.new, wd, os.path.join(wd, "out"),
                    rules=PIPELINE_RULES, pack_words=PACK_WORDS,
                    baseline_pages=self.old,
                )
            wall = time.perf_counter() - t0
            summary["bench_wall_s"] = wall
            self.summaries.append(summary)
            failed = self.check(wd, summary)
        except Exception as e:
            _log(f"the pipeline call or its check raised: "
                 f"{type(e).__name__}: {e}")
            wall, failed = time.perf_counter() - t0, None
        return {"wall_s": wall, "ops": self.n_docs,
                "failed": self.n_docs if failed is None else failed,
                "raised": failed is None,
                "docs": self.n_docs, "docs_wall_s": wall}

    def check(self, wd: str, summary: dict) -> int:
        """Documents wrong against the plan: status counts off by the
        difference; re-extracted crawl rows that are missing, repeated or
        not byte-identical to their construction golden (a page whose
        parse must fail has to come back as an error row); kept documents
        whose text is not the golden of the url's newest row; and every
        extra survivor of a planted exact-duplicate cluster. The export
        digest must not change between calls."""
        inc = summary["stages"]["incremental"]
        bad = sum(abs(inc.get(k, 0) - self.plan[k])
                  for k in ("added", "changed", "removed", "unchanged"))
        ex = _read_rows(os.path.join(wd, "extracted"),
                        ["url", "warc_ts", "main_text", "parse_ok"])
        seen: dict[tuple, int] = {}
        for url, ts, text, ok in zip(ex["url"], ex["warc_ts"],
                                     ex["main_text"], ex["parse_ok"]):
            seen[(url, ts)] = seen.get((url, ts), 0) + 1
            want = self.golden.get((url, ts))
            if (want is None or want[1] != ok
                    or (want[0] is not None and want[0] != text)):
                bad += 1
        bad += sum(1 for k in self.delta_rows if k not in seen)
        bad += sum(n - 1 for n in seen.values() if n > 1)
        kept = _read_rows(os.path.join(wd, "curated"), ["url", "main_text"])
        kept_urls = set(kept["url"])
        for url, text in zip(kept["url"], kept["main_text"]):
            if self.kept_text.get(url) != text:
                bad += 1
        bad += len(kept["url"]) - len(kept_urls)
        for members in self.plan["exact_clusters"]:
            bad += max(0, sum(1 for u in members if u in kept_urls) - 1)
        self.digests.append(export_digest(os.path.join(wd, "out")))
        if self.digests[-1] != self.digests[0]:
            bad += summary["stages"]["export"]["records"]
        return bad

    def sample_pages(self, seed: int) -> list[bytes]:
        html = pq.read_table(self.new, columns=["html"]).column(
            "html").to_pylist()
        return random.Random(seed).sample(html, min(KERNEL_SAMPLE, len(html)))

    def extraction_input(self):
        return self.spark.read.parquet(
            os.path.join(self.last_workdir, "incremental"))


class Registry:
    def __init__(self, spark, inputs: str, work: str, tracer):
        import __spark_entry__

        self.spark, self.tracer, self.sf = spark, tracer, inputs
        self.fns = __spark_entry__.queries()
        self.sql = __spark_entry__.oracle_sql()
        self.leaf_walls: list[dict[str, float]] = []
        # the pages each extraction leaf builds from the documents table
        self.n_docs = pq.ParquetFile(
            os.path.join(inputs, "documents.parquet")).metadata.num_rows

    def call(self, i: int) -> dict:
        walls, results, raised = {}, {}, 0
        for name in HEADLINE:
            span = (self.tracer.span("queries", name)
                    if self.tracer else nullcontext())
            t0 = time.perf_counter()
            try:
                with span:
                    results[name] = self.fns[name](self.spark,
                                                   self.sf).toPandas()
            except Exception as e:
                _log(f"leaf {name} raised: {type(e).__name__}: {e}")
                raised += 1
            walls[name] = time.perf_counter() - t0
        self.leaf_walls.append(walls)
        return {"wall_s": sum(walls.values()), "ops": len(HEADLINE),
                "failed": raised + self.check(results),
                "raised": raised > 0,
                "docs": len(EXTRACTION_LEAVES) * self.n_docs,
                "docs_wall_s": sum(walls[n] for n in EXTRACTION_LEAVES)}

    def check(self, results: dict) -> int:
        """Leaves whose result differs from the DuckDB oracle, compared
        the way scripts/check_oracle.py compares them; a leaf whose
        oracle comparison raises differs too."""
        import duckdb

        from scripts.check_oracle import TABLES, canon

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf}/{t}.parquet'")
        bad = 0
        for name, sdf in results.items():
            try:
                odf = con.execute(self.sql[name]).df()
                same = (len(sdf) == len(odf)
                        and sorted(sdf.columns) == sorted(odf.columns)
                        and canon(sdf)[0] == canon(odf)[0])
            except Exception as e:
                _log(f"oracle check of leaf {name} raised: "
                     f"{type(e).__name__}: {e}")
                same = False
            if not same:
                _log(f"leaf {name} differs from its oracle")
                bad += 1
        con.close()
        return bad


WORKLOADS = {
    "pipeline_recrawl": PipelineRecrawl,
    "registry": Registry,
}


# ------------------------------------------------------------- traced


def kernel_probe(pages: list[bytes]) -> dict[str, float]:
    """Single-thread microseconds per document for the kernel entry point
    and each of its stages, on the given pages."""
    from document_ai_spark.kernel.charset import decode_html
    from document_ai_spark.kernel.classify import classify_blocks
    from document_ai_spark.kernel.extract import (
        MAX_HTML_BYTES, extract_document,
    )
    from document_ai_spark.kernel.pdf import extract_pdf_lines
    from document_ai_spark.kernel.tokenizer import tokenize_blocks

    pc = time.perf_counter
    html = [p[:MAX_HTML_BYTES] for p in pages if not p.startswith(b"%PDF-")]
    pdfs = [p for p in pages if p.startswith(b"%PDF-")]
    t = pc()
    for p in pages:
        extract_document(p)
    extract = pc() - t
    t = pc()
    texts = [decode_html(p)[0] for p in html]
    decode = pc() - t
    t = pc()
    blocks = [tokenize_blocks(x) for x in texts]
    tokenize = pc() - t
    t = pc()
    for b in blocks:
        classify_blocks(b)
    classify = pc() - t
    t = pc()
    for p in pdfs:
        extract_pdf_lines(p)
    pdf = pc() - t
    us = 1e6
    return {
        "kernel.extract_us_per_doc": extract * us / max(1, len(pages)),
        "kernel.decode_us_per_doc": decode * us / max(1, len(html)),
        "kernel.tokenize_us_per_doc": tokenize * us / max(1, len(html)),
        "kernel.classify_us_per_doc": classify * us / max(1, len(html)),
        "kernel.pdf_us_per_doc": pdf * us / max(1, len(pdfs)),
    }


def _forced_s(build) -> float:
    """Seconds to build a frame and write it to a noop sink; builders
    that materialize while building are timed in full."""
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def curate_extras(spark, wl: PipelineRecrawl) -> tuple[dict, dict]:
    """Each public curation builder forced alone on the traced run's
    extracted table, plus LSH candidate-pair accounting."""
    from document_ai_spark.operators.curate import (
        adaptive_collapse, curation_flags, neardup_keeper_flags,
    )
    from document_ai_spark.operators.similarity import (
        DRIVER_CC_MAX_EDGES, _driver_union_find,
    )
    from document_ai_spark.queries_base import minhash_band_pairs

    extracted_dir = os.path.join(wl.last_workdir, "extracted")
    mat = os.path.join(wl.work, "collapse_alone")
    t0 = time.perf_counter()
    ex, _mode = adaptive_collapse(spark, extracted_dir, mat)
    collapse_s = time.perf_counter() - t0
    flags_s = _forced_s(lambda: curation_flags(
        ex, id_col="url", text_col="main_text", lang_col=None))
    neardup_s = _forced_s(lambda: neardup_keeper_flags(
        ex, id_col="url", text_col="main_text"))
    t = minhash_band_pairs(ex, id_col="url", text_col="main_text").toArrow()
    pairs = list(zip(t.column("doc_a").to_pylist(),
                     t.column("doc_b").to_pylist()))
    comp = _driver_union_find(pairs)
    forest_edges = len(comp) - len(set(comp.values()))
    shutil.rmtree(mat, ignore_errors=True)
    metrics = {
        "curate.flags_s": flags_s,
        "curate.neardup_s": neardup_s,
        "curate.collapse_s": collapse_s,
        "curate.lsh_pairs": float(len(pairs)),
        "curate.lsh_useful_ratio": forest_edges / max(1, len(pairs)),
    }
    # connected_components sees both directions of every pair
    labels = {"cc_path": "distributed" if 2 * len(pairs)
              > DRIVER_CC_MAX_EDGES else "driver",
              "cc_edges": 2 * len(pairs),
              "cc_driver_max_edges": DRIVER_CC_MAX_EDGES}
    return metrics, labels


def salted_label(spark, pages) -> dict:
    from document_ai_spark.operators.extraction import (
        capped_scan_splits, splits_bound_skew,
    )

    with capped_scan_splits(spark):
        bound = splits_bound_skew(pages)
    return {"salted": not bound}


def fanout_leaves(spark, wl: Registry) -> list[str]:
    """Leaves whose physical plan carries a hash repartition to a fixed
    partition count (REPARTITION_BY_NUM), the exchange scan_fanout
    inserts."""
    out = []
    for name in HEADLINE:
        df = wl.fns[name](spark, wl.sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "REPARTITION_BY_NUM" in plan:
            out.append(name)
    return out


def registry_layers(spark, wl: Registry, tracer, seed: int
                    ) -> tuple[dict, dict]:
    """Cold per-leaf walls and codegen, a warm second pass, the kernel
    probe on bulk-shaped pages, and the scan_fanout label."""
    from document_ai_spark.datagen import gen_rows

    sample = [r.html for r in gen_rows(KERNEL_SAMPLE, seed=seed,
                                       clean_paras=(8, 25))]
    metrics = kernel_probe(sample)
    for name in HEADLINE:
        metrics[f"queries.{name}_s"] = wl.leaf_walls[0][name]
    cold = [s for s in tracer.spans
            if s["layer"] == "queries" and s["iteration"] == 0]
    metrics["queries.codegen_ms"] = sum(s["codegen_ms"] for s in cold)
    metrics["queries.codegen_compiles"] = float(
        sum(s["codegen_compiles"] for s in cold))
    labels = {"scan_fanout_leaves": fanout_leaves(spark, wl)}
    tracer.iteration = len(wl.leaf_walls)
    t0 = time.perf_counter()
    for name in HEADLINE:
        with tracer.span("queries_warm", name):
            wl.fns[name](spark, wl.sf).toPandas()
    metrics["queries.warm_total_s"] = time.perf_counter() - t0
    return metrics, labels


def pipeline_layers(spark, wl: PipelineRecrawl, seed: int
                    ) -> tuple[dict, dict]:
    """Kernel probe on the crawl's pages, the curation builders alone,
    and the adaptive-switch labels."""
    metrics = kernel_probe(wl.sample_pages(seed))
    m, labels = curate_extras(spark, wl)
    metrics.update(m)
    labels.update(salted_label(spark, wl.extraction_input()))
    labels["collapse"] = wl.summaries[-1]["stages"]["curate"]["collapse"]
    labels["export_digest"] = wl.digests[0]
    return metrics, labels


def event_log_layers(log: dict, spans: list[dict], wl,
                     measured: set[int]) -> dict[str, float]:
    """Bundles of the Spark-running layers plus the pipeline's stage
    walls, as means over the measured calls."""
    from tracing import BUNDLE, layer_bundles

    b = layer_bundles(log, spans, measured)
    out = {}
    for layer in ("extraction", "crawldiff", "curate", "chunking"):
        for k in BUNDLE:
            out[f"{layer}.{k}"] = b.get(layer, {}).get(k, 0.0)
    if isinstance(wl, Registry):
        return out
    ex = b["extraction"]
    out["extraction.to_python_mb"] = ex["to_python_mb"]
    out["extraction.from_python_mb"] = ex["from_python_mb"]
    out["lineage.commit_overhead_s"] = ex["wall_s"] - ex["job_s"]
    sums = [s for i, s in enumerate(wl.summaries) if i in measured]

    def mean(f) -> float:
        return statistics.fmean(f(s) for s in sums)

    stages = ("incremental", "extract", "curate", "chunk", "pack", "export")
    for st in stages:
        out[f"pipeline.{st}_s"] = mean(lambda s: s["stages"][st]["wall_sec"])
    out["pipeline.unattributed_s"] = mean(lambda s: s["bench_wall_s"]) - sum(
        out[f"pipeline.{st}_s"] for st in stages)
    out["lineage.commits"] = mean(lambda s: s["stages"]["extract"]["chunks"])
    out["chunking.chunks"] = mean(lambda s: s["stages"]["chunk"]["chunks"])
    out["chunking.packs"] = mean(lambda s: s["stages"]["pack"]["packs"])
    out["sources.export_s"] = mean(
        lambda s: s["stages"]["export"]["wall_sec"])
    out["sources.export_mb"] = mean(
        lambda s: s["stages"]["export"]["bytes"] / 1e6)
    return out


# --------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace-dir", default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    from document_ai_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    conf = {}
    if args.trace_dir:
        log_dir = os.path.join(args.trace_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false"}
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      extra_conf=conf)
    setup_s = time.perf_counter() - t0

    from tracing import Tracer

    tracer = (Tracer(spark, codegen=args.workload == "registry")
              if args.trace_dir else None)
    wl = WORKLOADS[args.workload](spark, args.inputs, args.work, tracer)
    calls = []
    start = time.perf_counter()
    while not calls or time.perf_counter() - start < args.seconds:
        if tracer:
            tracer.iteration = len(calls)
        calls.append(wl.call(len(calls)))
        if calls[-1]["raised"]:
            break
    raised = calls[-1]["raised"]
    result = {"setup_s": setup_s, "calls": calls}
    if isinstance(wl, PipelineRecrawl) and wl.digests:
        result["export_digest"] = wl.digests[0]
    if tracer and not raised:
        metrics, labels = (
            registry_layers(spark, wl, tracer, args.seed)
            if isinstance(wl, Registry)
            else pipeline_layers(spark, wl, args.seed))
    spark.stop()
    if tracer and not raised:
        # the event log is complete only once the session has stopped
        from tracing import read_event_log

        # a first call is a warm-up only when later calls follow it
        measured = set(range(1, len(calls))) or {0}
        metrics.update(event_log_layers(read_event_log(log_dir),
                                        tracer.spans, wl, measured))
        result.update(layer_metrics=metrics, labels=labels,
                      spans=tracer.spans)
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
