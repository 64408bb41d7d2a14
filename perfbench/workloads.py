"""The benchmark's workload phases.

A phase owns one slice of the engine. It generates its inputs from the
seed and runs one pass of closed-loop operations through public functions
of the engine's modules. In the first pass of a run it also compares the
engine's outputs with independently known answers; that checking time is
kept out of every timing. A workload is one or more phases run back to
back in one Spark session.
"""

from __future__ import annotations

import os
import shutil
import time
from glob import glob

import numpy as np

import gen
from measure import dir_bytes, dir_files, median, tail, wait_streams_quiet

#: bench.py's 16 headline registry queries, copied so that later edits of
#: bench.py cannot change this workload
HEADLINE = [
    "pricing_summary",
    "regional_revenue",
    "join_broadcast_dims",
    "join_multiway_topk",
    "join_asof",
    "latest_per_group",
    "window_ranking",
    "window_running_frames",
    "window_sessionize",
    "rollup_agg",
    "exact_dedup",
    "minhash_lsh_nearup",
    "ann_brute_topk",
    "text_stats",
    "quality_score",
    "stream_tumbling_batch",
]

#: streaming certificates (registry entries that each run a real stream)
#: that keep state in the state store across micro-batches. The others
#: (stream_txn_sink alone: 14 s of first-execution cost on 4 cores) do
#: not fit the time a run may take.
STREAMS = [
    "stream_dedup_watermark",
]


def timing(name: str, xs: list[float], scale: float = 1.0,
           unit: str = "s") -> dict:
    """Median and tail of ``xs`` with the tail's percentile and count."""
    v, pct, n = tail(xs)
    return {f"{name}_p50_{unit}": median(xs) * scale if n else None,
            f"{name}_tail_{unit}": v * scale if n else None,
            f"{name}_tail_pct": pct, f"{name}_n": n}


class Phase:
    name = ""
    #: self-test switch: falsify one checked output
    corrupt = False

    def __init__(self, size: dict) -> None:
        self.size = size

    def prepare(self, ctx, data_dir: str) -> dict:
        """Generate this phase's inputs under ``data_dir``; return what was
        generated, with its total ``input_bytes`` and ``input_rows``."""
        raise NotImplementedError

    def run_pass(self, ctx) -> None:
        raise NotImplementedError

    def detail(self, ctx, ops: list[dict]) -> dict:
        return {}


def _collect(ctx, fn, sf_dir: str):
    """One registry entry: build its frame, then collect the rows to the
    client, as a dashboard reads them."""
    t = ctx.tracer
    with t.span("registry.build"):
        df = fn(ctx.spark, sf_dir)
    if t.enabled:
        ctx.note_eager_jobs()
        # the plan is cached on the frame, so the collect reuses it
        with t.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
    with t.span("exec.sink"):
        return df.toPandas()


def _tables(data_dir: str, sf: float, seed: int) -> tuple[str, dict]:
    """The generated engine tables at ``sf`` under ``data_dir``, made once
    per set-up; a second phase of the same workload reuses them and counts
    no input of its own."""
    sf_dir = os.path.join(data_dir, f"tables-sf{sf}")
    if os.path.isdir(sf_dir):
        return sf_dir, {"shared": sf_dir, "input_bytes": 0, "input_rows": 0}
    rec = gen.gen_tables(sf_dir, sf, seed)
    return sf_dir, dict(rec, input_bytes=rec["bytes"],
                        input_rows=sum(rec["rows"].values()))


class _Collected:
    """Rows an op already collected, in the shape the oracle comparison
    reads (``toPandas``), so the check compares the timed op's own output
    and runs no query again."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class _Oracle:
    """DuckDB over the generated tables, for registry oracle checks."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir
        self.con = None

    def check(self, ctx, name: str, pdf) -> list[str]:
        from tests.compare import assert_matches_oracle, duckdb_conn

        if self.con is None:
            self.con = duckdb_conn(self.sf_dir)
        try:
            assert_matches_oracle(_Collected(pdf), self.con, ctx.oracles()[name], name)
        except AssertionError as e:
            return [f"{name}: {str(e)[:300]}"]
        return []


# ---------------------------------------------------------------------------
# query_mix: the 16 headline registry queries, rows collected to the client
# ---------------------------------------------------------------------------


class QueryMix(Phase):
    name = "query_mix"

    def prepare(self, ctx, data_dir):
        self.sf_dir, rec = _tables(data_dir, self.size["sf"], ctx.seed)
        self.oracle = _Oracle(self.sf_dir)
        return rec

    def run_pass(self, ctx):
        q = ctx.registry()
        order = list(HEADLINE)
        np.random.default_rng([ctx.seed, 10, ctx.pass_no]).shuffle(order)
        for name in order:
            pdf = ctx.op("query", name, lambda name=name: _collect(ctx, q[name], self.sf_dir))
            if pdf is not None and ctx.checking:
                if self.corrupt and name == HEADLINE[0]:
                    pdf = pdf.iloc[0:0]
                ctx.check(lambda pdf=pdf, name=name: self.oracle.check(ctx, name, pdf))

    def detail(self, ctx, ops):
        return timing("query", [o["s"] for o in ops if o["kind"] == "query"])


# ---------------------------------------------------------------------------
# filing_etl: the paper's pipeline. Scan, standardize, conform and write the
# silver tables from filings and their amendments, serve the margin summary.
# ---------------------------------------------------------------------------


class FilingEtl(Phase):
    name = "filing_etl"

    def prepare(self, ctx, data_dir):
        self.silver_root = os.path.join(data_dir, "silver")
        self.info = info = gen.gen_filings(
            os.path.join(data_dir, "filings"), self.size["companies"],
            self.size["quarters"], ctx.seed, extra_items=self.size["items"])
        #: the amendments re-file older quarters, so the load collapses
        #: each original and its amendment to one report
        self.paths = sorted(glob(info["base_glob"])) + sorted(glob(info["amend_glob"]))
        self._n = 0
        rec = {k: v for k, v in info.items() if k != "latest"}
        rec["facts_per_filing"] = info["facts"] / info["reports"]
        self.input_bytes = rec["input_bytes"] = info["bytes"] + info["amend_bytes"]
        rec["input_rows"] = info["rows"] + info["amend_rows"]
        return rec

    def _summary(self, ctx, silver):
        from ir_analyses_spark.etl.pipeline import read_silver
        from ir_analyses_spark.queries.summary import financial_summary

        t = ctx.tracer
        with t.span("summary.build"):
            s = read_silver(ctx.spark, silver)
            df = financial_summary(s["companies"], s["reports"], s["facts"],
                                   s["items"])
        with t.span("summary.exec"):
            return [r.asDict() for r in df.collect()]

    def run_pass(self, ctx):
        from ir_analyses_spark.etl.pipeline import backfill_from_csvs

        self._n += 1
        silver = os.path.join(self.silver_root, f"s{self._n}")
        with ctx.wrap_etl():
            bundle = ctx.op("etl", "load",
                            lambda: backfill_from_csvs(ctx.spark, self.paths, silver))
        rows = ctx.op("etl", "summary", lambda: self._summary(ctx, silver))
        if ctx.checking:
            ctx.check(lambda: self._check(ctx, silver, bundle, rows))
        if ctx.tracer.enabled:
            with ctx.overhead():
                ctx.layer["io.bytes_written_per_input_byte"].append(
                    dir_bytes(silver) / self.input_bytes)
                ctx.layer["io.silver_files"].append(dir_files(silver))
        shutil.rmtree(silver, ignore_errors=True)

    def _counts(self, ctx, silver):
        """Row counts of the four silver tables, read from their parquet
        footers outside Spark."""
        import pyarrow.dataset as ds

        dirs = {"companies": "companies", "items": "financial_items",
                "reports": "financial_reports", "facts": "financial_data"}
        return {k: ds.dataset(os.path.join(silver, d), format="parquet",
                              partitioning="hive").count_rows()
                for k, d in dirs.items()}

    def _want(self):
        return {k: self.info[k] for k in ("companies", "items", "reports", "facts")}

    def _check(self, ctx, silver, bundle, rows) -> list[str]:
        """The silver tables hold the counts the generator expects, and the
        summary reports each company's latest-quarter margins."""
        if bundle is None:
            return []
        bad = []
        got = self._counts(ctx, silver)
        if got != self._want():
            bad.append(f"silver counts {got} != {self._want()}")
        if ctx.tracer.enabled:
            # counting the quarantine runs scan, standardize and conform
            # again (3 s a run); the silver report count above already
            # shows the unparsable filings were kept out
            rej = bundle["company_rejects"].unionByName(
                bundle["report_rejects"]).count()
            ctx.layer["etl.quarantine_ratio"].append(rej / self.info["files"])
            if rej != self.info["rejected"]:
                bad.append(f"quarantined {rej} filings; the generator made "
                           f"{self.info['rejected']} unparsable")
        if rows is None:
            return bad
        if self.corrupt:
            rows = [dict(rows[0], net_profit_rate=-1.0)] + rows[1:]
        return bad + self._check_summary(rows)

    def _check_summary(self, rows) -> list[str]:
        latest = self.info["latest"]
        bad = []
        if len(rows) != len(latest):
            bad.append(f"summary has {len(rows)} rows, want {len(latest)}")
        for r in rows:
            f = latest.get(r["edinet_code"])
            if f is None:
                bad.append(f"summary row for unknown company {r['edinet_code']}")
                continue
            sales = float(f["net_sales"])
            want = {
                "fiscal_year": f["fiscal_year"],
                "quarter_type": f"Q{f['quarter']}",
                "operation_profit_rate": float(f["operating_income"]) / sales * 100.0,
                "ordinary_profit_rate": float(f["ordinary_income"]) / sales * 100.0,
                "net_profit_rate": float(f["net_income"]) / sales * 100.0,
                "net_sales": sales / 1_000_000.0,
            }
            bad += [f"{r['edinet_code']} {k}: {r[k]!r} != {v!r}"
                    for k, v in want.items() if r[k] != v]
        return bad[:10]

    def detail(self, ctx, ops):
        by = {n: [o["s"] for o in ops if o["name"] == n] for n in ("load", "summary")}
        return {
            "load_rows_per_s": (self.info["rows"] + self.info["amend_rows"])
            / median(by["load"]),
            "summary_s": median(by["summary"]),
        }


# ---------------------------------------------------------------------------
# corpus_lifecycle: crawl → curate → index → search, with a delete
# ---------------------------------------------------------------------------


class CorpusLifecycle(Phase):
    name = "corpus_lifecycle"

    def prepare(self, ctx, data_dir):
        seed = ctx.seed
        tables, docs = _tables(data_dir, self.size["sf"], seed)
        self.replica = os.path.join(data_dir, "docs_replica.parquet")
        rep = gen.documents_replica(f"{tables}/documents.parquet", self.replica,
                                    self.size["copies"], seed)
        self.crawl = os.path.join(data_dir, "crawl")
        crawl = gen.gen_crawl(self.crawl, f"{tables}/documents.parquet",
                              self.size["pages"], seed)
        import pyarrow.parquet as pq

        t = pq.read_table(self.replica, columns=["doc_id", "text"])
        #: the terms of the stored top-k search run after the delete; the
        #: phrase and boolean searches read the same index files and are
        #: left out for time
        self.terms = gen.search_terms(t.column("text").to_pylist(), 1, seed)[0]
        ids = t.column("doc_id").to_numpy()
        #: the documents the search ranks highest, so the check after the
        #: delete sees whether they are gone
        self.deletes = gen.bm25_top(t.column("text").to_pylist(), ids, self.terms,
                                    self.size["deletes"])
        self.id_base = int(ids.max()) + 1
        self.idx_root = os.path.join(data_dir, "index")
        self._n = 0
        return {"tables": docs["rows"]["documents"], "replica": rep,
                "crawl": crawl, "terms": self.terms,
                "deletes": self.deletes,
                "input_bytes": rep["bytes"] + crawl["bytes"],
                "input_rows": rep["rows"] + crawl["pages"]}

    def _curate(self, ctx, out: str):
        """Curate the crawl and write its survivors with doc_ids past every
        indexed id, so the append never collides with the index."""
        from pyspark.sql import Window, functions as F

        from ir_analyses_spark.llm.curate import curation_stages

        t = ctx.tracer
        with t.span("curate.build"):
            # the io.warc scan route (binaryFile): 4 s less first-execution
            # cost per run than the Python data-source route
            final = curation_stages(ctx.spark, self.crawl, input_format="warc")["final"]
        with t.span("curate.write"):
            (final.select(
                (F.lit(self.id_base) + F.row_number().over(Window.orderBy("doc_id")))
                .cast("long").alias("doc_id"), "text")
             .write.mode("overwrite").parquet(out))
        ctx.spark.catalog.clearCache()
        if t.enabled:
            with ctx.overhead():
                kept = ctx.spark.read.parquet(out).count()
            ctx.layer["curate.keep_ratio"].append(kept / self.size["pages"])

    def run_pass(self, ctx):
        from ir_analyses_spark.llm import retrieval as R

        self._n += 1
        idx = os.path.join(self.idx_root, f"i{self._n}")
        docs = ctx.spark.read.parquet(self.replica).select("doc_id", "text")
        ctx.op("index", "build", lambda: R.write_retrieval_index(docs, idx),
               layer="retrieval.build")
        self._index_stats(ctx, idx)
        batch = f"{idx}_new"
        ctx.op("curate", "curate", lambda: self._curate(ctx, batch))
        before = dir_bytes(idx) if ctx.tracer.enabled else 0
        ctx.op("index", "append", lambda: R.append_retrieval_index(
            ctx.spark.read.parquet(batch), idx), layer="retrieval.append")
        if ctx.tracer.enabled:
            with ctx.overhead():
                ctx.layer["retrieval.append_bytes_per_batch_byte"].append(
                    max(dir_bytes(idx) - before, 0) / max(dir_bytes(batch), 1))
        if ctx.checking:
            ctx.check(lambda: self._check_topk(ctx, idx, batch))
        ctx.op("index", "delete",
               lambda: R.delete_from_retrieval_index(ctx.spark, idx, self.deletes),
               layer="retrieval.delete")
        rows = ctx.op("search", "topk", lambda: R.bm25_topk_stored(
            ctx.spark, idx, {0: self.terms}).collect(), layer="retrieval.search")
        if ctx.checking:
            ctx.check(lambda: self._check_deleted(rows or []))
        self._index_stats(ctx, idx)
        shutil.rmtree(batch, ignore_errors=True)
        shutil.rmtree(idx, ignore_errors=True)

    def _check_topk(self, ctx, idx, batch) -> list[str]:
        """After the append, the stored index's top-k equals the from-text
        bm25_topk over the same documents: the replica and the batch. (After
        the delete they differ by design: tombstones leave the corpus
        statistics unchanged until a vacuum.)"""
        from ir_analyses_spark.llm import retrieval as R

        docs = (ctx.spark.read.parquet(self.replica).select("doc_id", "text")
                .unionByName(ctx.spark.read.parquet(batch)))
        queries = {0: self.terms}
        got = R.bm25_topk_stored(ctx.spark, idx, queries).collect()
        stored = sorted(map(tuple, got))
        text = sorted(map(tuple, R.bm25_topk(docs, queries).collect()))
        #: how many of the doc_ids about to be deleted the search returns
        self.deletes_in_topk = len(set(self.deletes) & {r["doc_id"] for r in got})
        if not text:
            return ["after the append: from-text top-k is empty"]
        if stored != text:
            return ["after the append: stored top-k differs from the "
                    f"from-text bm25_topk ({len(stored)} vs {len(text)} rows)"]
        return []

    def _check_deleted(self, rows) -> list[str]:
        returned = {r["doc_id"] for r in rows}
        if self.corrupt:
            returned.add(self.deletes[0])
        back = returned & set(self.deletes)
        return [f"deleted doc_ids {sorted(back)} came back"] if back else []

    def _index_stats(self, ctx, idx):
        if ctx.tracer.enabled:
            with ctx.overhead():
                ctx.layer["retrieval.index_bytes"].append(dir_bytes(idx))
                ctx.layer["retrieval.index_files"].append(dir_files(idx))

    def detail(self, ctx, ops):
        by = {n: [o["s"] for o in ops if o["name"] == n]
              for n in ("curate", "build", "append")}
        out = {
            "curate_pages_per_s": self.size["pages"] / median(by["curate"]),
            "index_build_s": median(by["build"]),
            "index_append_s": median(by["append"]),
            "deletes_in_topk": getattr(self, "deletes_in_topk", None),
        }
        out.update(timing("search", [o["s"] for o in ops if o["kind"] == "search"]))
        return out


# ---------------------------------------------------------------------------
# stream_state: streaming certificates, observed by a progress listener
# ---------------------------------------------------------------------------


class StreamState(Phase):
    name = "stream_state"

    def prepare(self, ctx, data_dir):
        self.sf_dir, rec = _tables(data_dir, self.size["sf"], ctx.seed)
        self.oracle = _Oracle(self.sf_dir)
        return rec

    def run_pass(self, ctx):
        q = ctx.registry()
        for name in STREAMS:
            mark = len(ctx.stream_events)
            pdf = ctx.op("stream", name, lambda name=name: self._one(ctx, q[name]))
            if pdf is not None and ctx.checking:
                if self.corrupt and name == STREAMS[0]:
                    pdf = pdf.iloc[0:0]
                ctx.check(lambda pdf=pdf, name=name, mark=mark: self.oracle.check(
                    ctx, name, pdf) + self._check_progress(ctx, name, mark))

    def _check_progress(self, ctx, name, mark) -> list[str]:
        if any(e["kind"] == "progress" for e in ctx.stream_events[mark:]):
            return []
        return [f"{name}: the listener saw no micro-batch"]

    def _one(self, ctx, fn):
        t = ctx.tracer
        mark = len(ctx.stream_events)
        t0 = time.time()
        with t.span("registry.build") as build:
            df = fn(ctx.spark, self.sf_dir)
        with t.span("exec.sink"):
            pdf = df.toPandas()
        wait_streams_quiet(ctx.stream_events)
        events = ctx.stream_events[mark:]
        ctx.stream_ops.append((t0, events))
        if t.enabled:
            # listener progress as child spans of the certificate call; a
            # batch ends at its progress callback
            now_wall, now_pc = time.time(), time.perf_counter()
            for e in events:
                if e["kind"] == "progress":
                    end = now_pc - (now_wall - e["wall"])
                    t.add("streaming.batch",
                          end - e["dur"].get("triggerExecution", 0) / 1e3, end,
                          parent=build["id"], batch=e["batch"])
        return pdf

    def detail(self, ctx, ops):
        return timing("microbatch", [
            e["dur"].get("triggerExecution", 0) / 1e3
            for _t, evs in ctx.stream_ops for e in evs if e["kind"] == "progress"],
            1000.0, "ms")


PHASES = {c.name: c for c in (QueryMix, FilingEtl, CorpusLifecycle, StreamState)}
