"""Per-layer metrics of the traced run.

Spark-free probes call the engine's public module functions directly (codec,
analysis, driver prepare, reader). Spark-side numbers come from the event log,
grouped by the job group of each request. A probe whose engine function is
gone is skipped and named in ``skipped``; it never fails the run.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import pages
from tracing import group_summary, median, parse_event_log
from workloads import dir_bytes

PROBE_TERMS = 3
PROBE_EXECUTES = 3


class Probes:
    def __init__(self, run):
        self.run = run
        self.metrics: dict[str, float] = {}
        self.skipped: list[str] = []

    def public(self, module: str, name: str):
        """The engine function ``module.name``, or None (recorded as skipped)."""
        try:
            return getattr(importlib.import_module(module), name)
        except (ImportError, AttributeError):
            self.skipped.append(f"{module}.{name}")
            return None

    def collect(self, reader, with_writes: bool) -> None:
        """Run every probe after the workload's loop, on its index."""
        run = self.run
        specs = [run.qgen.spec(c) for c in pages.CATEGORIES]
        searcher = run.Searcher(reader)
        with run.tracer.span("probes"):
            self.analysis()
            self.codec(reader.meta)
            self.reader(run.index_path, [s[1] for s in specs if s[0] == "term"])
            self.prepare(reader, specs)
            self.spark_probes(searcher)
            searcher.unpersist()
            if with_writes:
                self.write_probe(run.index_path)
        self.from_index(run.index_path)

    # ------------------------------------------------------ Spark-free
    def analysis(self) -> None:
        tok = self.public("iresearch_spark.analysis.tokenizers", "simple_tokenize")
        if tok is None:
            return
        import pandas as pd

        texts = pd.Series([pages.page_text(r) for r in self.run.ranks[:2000]])
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = int(tok(texts).map(len).sum())
            rates.append(n / (time.perf_counter() - t0))
        self.metrics["analysis.tokens_per_s"] = median(rates)

    def codec(self, meta: dict) -> None:
        dec_ids = self.public("iresearch_spark.index.codec", "decode_doc_ids")
        dec_fq = self.public("iresearch_spark.index.codec", "decode_freqs")
        enc = self.public("iresearch_spark.index.codec", "encode_postings_batch")
        cols = ["segment_id", "docs_count", "doc_ids_enc", "freqs_enc",
                "block_doc_off", "block_last_doc", "block_freq_off"]
        paths = meta["tables"]["postings"]
        paths = paths if isinstance(paths, list) else [paths]
        files = sorted(f for p in paths for f in glob.glob(os.path.join(p, "*.parquet")))
        t = pq.read_table(files, columns=cols)
        seg = int(np.min(t.column("segment_id").to_numpy()))
        rows = t.filter(np.asarray(t.column("segment_id").to_numpy() == seg)).to_pylist()
        postings = sum(r["docs_count"] for r in rows)
        self.metrics["codec.bytes_per_posting"] = (
            sum(len(r["doc_ids_enc"]) + len(r["freqs_enc"]) for r in rows) / postings
        )
        if dec_ids is None or dec_fq is None:
            return
        decoded = []
        t0 = time.perf_counter()
        for r in rows:
            decoded.append((
                dec_ids(r["doc_ids_enc"], np.asarray(r["block_doc_off"]), np.asarray(r["block_last_doc"])),
                dec_fq(r["freqs_enc"], np.asarray(r["block_freq_off"])),
            ))
        self.metrics["codec.decode_ns_per_posting"] = (time.perf_counter() - t0) * 1e9 / postings
        multi = [r for r in rows if len(r["block_doc_off"]) > 1]
        n_sub = 0
        t0 = time.perf_counter()
        for r in multi:
            blocks = np.arange(0, len(r["block_doc_off"]), 2)
            ids = dec_ids(r["doc_ids_enc"], np.asarray(r["block_doc_off"]),
                          np.asarray(r["block_last_doc"]), blocks)
            dec_fq(r["freqs_enc"], np.asarray(r["block_freq_off"]), blocks)
            n_sub += len(ids)
        if n_sub:
            self.metrics["codec.decode_block_ns_per_posting"] = (time.perf_counter() - t0) * 1e9 / n_sub
        if enc is not None:
            ids = np.concatenate([d for d, _ in decoded])
            fq = np.concatenate([f for _, f in decoded])
            bounds = np.concatenate([[0], np.cumsum([len(d) for d, _ in decoded])])
            t0 = time.perf_counter()
            enc(ids, fq, bounds)
            self.metrics["codec.encode_ns_per_posting"] = (time.perf_counter() - t0) * 1e9 / postings

    def reader(self, index_path: str, terms: list[str]) -> None:
        from iresearch_spark import IndexReader

        spark = self.run.spark
        opens = []
        for _ in range(5):
            t0 = time.perf_counter()
            rd = IndexReader(spark, index_path)
            opens.append(time.perf_counter() - t0)
        self.metrics["reader.open_ms"] = median(opens) * 1e3
        if not hasattr(rd, "fuzzy_vocab_sorted"):
            self.skipped.append("IndexReader.fuzzy_vocab_sorted")
        else:
            t0 = time.perf_counter()
            rd.fuzzy_vocab_sorted()
            self.metrics["reader.vocab_load_ms"] = (time.perf_counter() - t0) * 1e3
        if not hasattr(rd, "term_stats"):
            self.skipped.append("IndexReader.term_stats")
            return
        rd.term_stats(terms[:1])
        per = []
        for t in terms:
            t0 = time.perf_counter()
            rd.term_stats([t])
            per.append(time.perf_counter() - t0)
        self.metrics["reader.term_stats_us"] = median(per) * 1e6

    def prepare(self, reader, specs: list[tuple]) -> None:
        compile_plan = self.public("iresearch_spark.search.executor", "compile_plan")
        expand = self.public("iresearch_spark.search.executor", "expand_multiterm")
        if compile_plan is not None:
            ms = []
            for spec in specs:
                if spec[0] == "phrase":
                    continue
                t0 = time.perf_counter()
                compile_plan(pages.to_filter(spec), reader)
                ms.append((time.perf_counter() - t0) * 1e3)
            self.metrics["prepare.compile_ms"] = median(ms)
        if expand is not None:
            ms, scored = [], []
            for spec in specs:
                if spec[0] not in ("prefix", "wildcard", "fuzzy"):
                    continue
                t0 = time.perf_counter()
                terms, _tail = expand(pages.to_filter(spec), reader)
                ms.append((time.perf_counter() - t0) * 1e3)
                scored.append(len(terms))
            if ms:
                self.metrics["prepare.expand_ms"] = median(ms)
                self.metrics["prepare.scored_terms"] = float(np.mean(scored))

    # ------------------------------------------------------- Spark side
    def spark_probes(self, searcher) -> None:
        """Keyed Term searches and a small prepared batch under their own job
        groups: their plan-shape counts repeat exactly."""
        run = self.run
        for i in range(PROBE_TERMS):
            with run.request(f"probe-term-{i}", "probe"):
                searcher.search(pages.to_filter(run.qgen.spec("HighTerm")), k=10).collect()
        plans = {
            f"{cat}#{i}": pages.to_filter(run.qgen.spec(cat))
            for i, cat in enumerate(pages.CATEGORIES) if cat not in pages.PHRASE_CATEGORIES
        }
        prepared = searcher.prepare(plans)
        for i in range(PROBE_EXECUTES):
            with run.request(f"probe-execute-{i}", "probe"):
                prepared.execute(k=10).collect()
        prepared.unpersist()

    def write_probe(self, index_path: str) -> None:
        """Workloads without writes delete a few keys and consolidate two
        segments, so the delete and consolidate layers have numbers too."""
        from iresearch_spark import IndexReader
        from iresearch_spark.index.consolidate import consolidate
        from iresearch_spark.index.deletes import delete_docs

        run = self.run
        rd = IndexReader(run.spark, index_path)
        keys = [pages.page_key(int(i)) for i in run.rng.choice(len(run.ranks), 20, replace=False)]
        with run.request("probe-delete", "delete"):
            delete_docs(rd, keys)
        run.deletes.append("probe-delete")
        rd = IndexReader(run.spark, index_path)
        with run.request("probe-consolidate", "consolidate"):
            consolidate(rd, sorted(rd.segment_docs_counts())[:2])

    # -------------------------------------------------- after the stop
    def from_event_log(self, log_dir: str, lat: list[float]) -> None:
        run = self.run
        lines = []
        for f in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(f) as fh:
                lines.extend(fh)
        groups = parse_event_log(lines)
        m = self.metrics
        spans = {s["request"]: s for s in run.tracer.spans if s["end"] is not None}

        def summ(rid):
            return group_summary(groups.get(run.gid(rid), []))

        term = [summ(f"probe-term-{i}") for i in range(PROBE_TERMS)]
        m["spark.jobs_per_search"] = median([s["jobs"] for s in term])
        m["spark.stages_per_search"] = median([s["stages"] for s in term])
        m["spark.tasks_per_search"] = median([s["tasks"] for s in term])
        reqs = [(rid, summ(rid)) for rid, _ in run.searches]
        if reqs:
            m["spark.job_ms_per_search"] = median([s["job_ms"] for _, s in reqs])
            m["spark.task_run_ms_per_search"] = median([s["task_run_ms"] for _, s in reqs])
            m["spark.input_bytes_per_search"] = median([s["input_bytes"] for _, s in reqs])
            m["spark.shuffle_bytes_per_search"] = median([s["shuffle_bytes"] for _, s in reqs])
            m["search.driver_ms"] = median([
                (spans[run.gid(rid)]["end"] - spans[run.gid(rid)]["start"]) * 1e3 - s["job_ms"]
                for rid, s in reqs
            ])
        execs = [rid for rid, _ in run.executes] or [
            f"probe-execute-{i}" for i in range(PROBE_EXECUTES)
        ]
        ex = [summ(rid) for rid in execs]
        m["spark.jobs_per_execute"] = median([s["jobs"] for s in ex])
        m["spark.kernel_task_skew"] = median([s["skew"] for s in ex])
        m["builder.spark_jobs"] = float(summ("build")["jobs"])
        if run.deletes:
            m["deletes.spark_jobs"] = median([summ(rid)["jobs"] for rid in run.deletes])
        if lat:
            m["trace.request_p50_ms"] = median(lat) * 1e3
        if run.ref_times:
            m["trace.ref_p50_ms"] = median(run.ref_times) * 1e3

    def from_index(self, index_path: str) -> None:
        """Builder stages from ``manifest.jsonl`` and the lineage table;
        consolidate stages from the manifest's ``consolidate_*`` rows."""
        run = self.run
        with open(os.path.join(index_path, "manifest.jsonl")) as f:
            rows = [json.loads(line) for line in f]
        build = [r for r in rows if r["generation"] == 1]
        sec = {r["stage"]: r["seconds"] for r in build}
        for stage in ("segments", "postings", "term_dict"):
            self.metrics[f"builder.{stage}_s"] = float(sec.get(stage, 0.0))
        span = next(s for s in run.tracer.spans if s["request"] == run.gid("build"))
        self.metrics["builder.commit_s"] = (span["end"] - span["start"]) - sum(
            sec.get(s, 0.0) for s in ("segments", "postings", "term_dict")
        )
        lineage = pq.read_table(os.path.join(index_path, "gen=1", "lineage"), columns=["seconds"])
        secs = lineage.column("seconds").to_numpy()
        self.metrics["builder.segment_task_s_p50"] = median(secs)
        self.metrics["builder.segment_task_s_max"] = float(secs.max())
        last_gen = max(r["generation"] for r in rows)
        cons = {r["stage"]: r["seconds"] for r in rows if r["generation"] == last_gen}
        for table in ("postings", "norms", "docs"):
            if f"consolidate_{table}" in cons:
                self.metrics[f"consolidate.{table}_s"] = float(cons[f"consolidate_{table}"])
        gen_dir = os.path.join(index_path, f"gen={last_gen}")
        if os.path.isdir(gen_dir):
            self.metrics["consolidate.bytes_rewritten"] = float(dir_bytes(gen_dir))
