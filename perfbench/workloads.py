"""The benchmark workloads: what each sets up, runs, checks and traces.

Each workload's ``op`` is one unit of user-visible work (a whole crawl,
or one dedup + decontamination pass); its timed region ends only once the
outputs are materialized through a sink that cannot prune them.
"""

from __future__ import annotations

import os
import time
import zlib
from typing import Dict

import pandas as pd
from pyspark.sql import functions as F

import gen
from spans import Tracer, engine_cpu_s

# -- shared helpers -----------------------------------------------------------


def _noop(df) -> None:
    """Materialize every column of ``df`` (a write keeps all of them)."""
    df.write.format("noop").mode("overwrite").save()


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _release_since(spark, keep: set) -> None:
    """Unpersist every RDD cached or checkpointed after ``keep`` was taken."""
    for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rid not in keep:
            rdd.unpersist(False)


def _dir_stats(path: str):
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    def __init__(self, seed: int, work_dir: str, cores: int) -> None:
        self.seed = seed
        self.work = work_dir
        self.cores = cores

    def setup(self, spark) -> None:
        raise NotImplementedError

    def op(self) -> dict:
        """Run one unit of work; returns ``seconds``, ``items`` (units
        done) and what the checks need."""
        raise NotImplementedError

    def checks(self, out: dict) -> Dict[str, bool]:
        raise NotImplementedError

    def traced_op(self, tracer: Tracer) -> dict:
        """Run one op under ``tracer`` and return per-layer metrics that do
        not come from the event log."""
        raise NotImplementedError


# -- crawls -------------------------------------------------------------------


def _scraper():
    from dude_spark.api import Scraper

    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css="a.url", group_css=".custom-group")
    def item_href(element):
        return {"item_href": element.get("href")}

    return app


# Wide shallow web: 6 hosts x 48 pages (~45 KB html each, zlib at rest),
# link trees of fanout 16, so rounds that widen to ~400 URLs. The hybrid
# frontier cap is scaled down with the corpus so the widest rounds take the
# distributed path, as wide rounds do on a full-size crawl, and the narrow
# ones the driver-side path.
# A 96 s politeness window puts the crawl-delay-2 hosts over budget in the
# wide rounds, so ranking and deferral run and the crawl takes 5 rounds; a
# 100-host robots dim puts robots past the inline tier (driver-compiled).
BFS_SPEC = gen.CrawlSpec(
    hosts=6, pages_per_host=48, fanout=16, pad=120, robots_hosts=100,
    round_seconds=96, max_delay=2, driver_frontier_max=256,
)


class CrawlWorkload(Workload):
    """A BFS crawl that commits its state to ``state_dir`` every round."""

    def __init__(self, seed, work_dir, cores, spec: gen.CrawlSpec):
        super().__init__(seed, work_dir, cores)
        self.spec = spec
        self.state_dir = os.path.join(work_dir, "state")
        self._oracle = None

    def setup(self, spark) -> None:
        from dude_spark.crawl import CrawlConfig, CrawlJob

        self.spark = spark
        self.corpus = gen.make_corpus(self.spec, self.seed)
        # pages are stored zlib-compressed, as WARC records are at rest
        pdf = pd.DataFrame(
            {"url": [p.url for p in self.corpus.pages],
             "html": [zlib.compress(p.html, 1) for p in self.corpus.pages]}
        )
        self.pages = spark.createDataFrame(pdf, "url string, html binary").cache()
        self.pages.count()
        self.robots = spark.createDataFrame(
            pd.DataFrame(self.corpus.robots, columns=["host", "robots_txt"]),
            "host string, robots_txt string",
        ).cache()
        self.robots.count()
        self.app = _scraper()
        self.config = CrawlConfig(
            max_rounds=10_000,
            round_seconds=self.spec.round_seconds,
            page_codec="zlib",
            state_dir=self.state_dir,
            driver_frontier_max=self.spec.driver_frontier_max,
        )
        # warm-up: python worker start, JIT and codegen of the round
        # machinery, on the first round of the same crawl
        keep = _persistent_rdd_ids(spark)
        warm_cfg = CrawlConfig(**{**self.config.__dict__, "max_rounds": 1})
        warm_cfg.state_dir = os.path.join(self.work, "warm-state")
        res = CrawlJob(spark, self.app, self.pages, robots=self.robots,
                       config=warm_cfg).run(self.corpus.seeds)
        self._materialize(res)
        _release_since(spark, keep)
        self._job = lambda: CrawlJob(
            spark, self.app, self.pages, robots=self.robots, config=self.config
        )
        self._keep = _persistent_rdd_ids(spark)

    @property
    def oracle(self) -> gen.CrawlOracle:
        if self._oracle is None:
            self._oracle = gen.bfs_oracle(self.corpus)
        return self._oracle

    @staticmethod
    def _materialize(res) -> list:
        """The extracted data rows, collected to the driver (the kernel
        output is not cached by the crawl, so this runs it in full)."""
        return res.results.select(
            "page_url",
            F.col("data")["title"].alias("title"),
            F.col("data")["item_href"].alias("item_href"),
        ).toArrow().to_pylist()

    def _run(self):
        job = self._job()
        t0, c0 = time.perf_counter(), engine_cpu_s()
        res = job.run(self.corpus.seeds)
        rows = self._materialize(res)
        return res, rows, time.perf_counter() - t0, engine_cpu_s() - c0

    def op(self) -> dict:
        return self._collect(*self._run())

    def _collect(self, res, rows: list, wall: float, cpu: float) -> dict:
        out = {
            "seconds": wall,
            "cpu_s": cpu,
            "items": sum(m.fetched for m in res.metrics),
            "steps": [m.seconds for m in res.metrics],
            "metrics": res.metrics,
            "trace": sorted(
                (r["url"], int(r["seq"]))
                for r in res.trace.select("url", "seq").toArrow().to_pylist()
            ),
            "data": sorted(
                ((r["page_url"], r["title"], r["item_href"]) for r in rows), key=str
            ),
        }
        out["committed"] = all(
            os.path.exists(os.path.join(self.state_dir, kind, f"round={r}", "_SUCCESS"))
            for kind in ("frontier", "extracted")
            for r in range(len(res.metrics))
        )
        out["state_files"], out["state_bytes"] = _dir_stats(self.state_dir)
        _release_since(self.spark, self._keep)
        return out

    def checks(self, out: dict) -> Dict[str, bool]:
        o = self.oracle
        return {
            "trace_equals_bfs": out["trace"] == o.trace,
            "rounds_equal_bfs": len(out["metrics"]) == o.rounds,
            "deferred_equal_bfs": sum(m.deferred for m in out["metrics"]) == o.deferred,
            "data_rows_equal_bfs": out["data"] == o.data,
            "every_round_committed": out["committed"],
        }

    def traced_op(self, tracer: Tracer) -> dict:
        import dude_spark.crawl as crawl
        from dude_spark.flatten import flatten
        from dude_spark.sinks import save_distributed

        for attr, name in (
            ("with_url_meta", "frontier.with_url_meta"),
            ("dedupe_candidates", "frontier.dedupe_candidates"),
            ("compile_robots", "politeness.compile_robots"),
            ("compile_robots_rows", "politeness.compile_robots"),
            ("robots_gate", "politeness.robots_gate"),
            ("inline_robots_cols", "politeness.robots_gate"),
            ("fast_budget_rank", "politeness.fast_budget_rank"),
            ("assign_global_seq", "crawl.assign_global_seq"),
            ("make_extract_iterator", "extract.make_extract_iterator"),
        ):
            tracer.patch(crawl, attr, name)
        try:
            with tracer.span("crawl.CrawlJob.run") as root:
                res, rows, wall, cpu = self._run()
        finally:
            tracer.unpatch()
        layers = {"_root": root["id"], "_wall": wall}
        with tracer.span("flatten.flatten") as s:
            flat = flatten(res.results).cache()
            _noop(flat)
        layers["flatten.s"] = s["end"] - s["start"]
        with tracer.span("sinks.save_distributed") as s:
            save_distributed(flat, os.path.join(self.work, "sink"), mode="overwrite")
        layers["sinks.write_s"] = s["end"] - s["start"]
        out = self._collect(res, rows, wall, cpu)
        m = out["metrics"]
        fetched = sum(x.fetched for x in m)
        rounds = len(m)
        pages_hit = len({d[0] for d in out["data"]})
        layers.update({
            "crawl.rounds": rounds,
            "crawl.fetch_hit_ratio": pages_hit / fetched,
            "frontier.new_per_candidate": sum(x.new_urls for x in m)
            / max(1, self.oracle.candidates),
            "politeness.deferred_ratio": sum(x.deferred for x in m)
            / (fetched + sum(x.deferred for x in m)),
            "_checks": self.checks(out),
        })
        layers["crawl.state_bytes_per_url"] = out["state_bytes"] / fetched
        layers["crawl.state_files_per_round"] = out["state_files"] / rounds
        layers.update(self._kernel_replay(tracer, pages_hit, wall))
        return layers

    def _kernel_replay(self, tracer: Tracer, pages_hit: int, crawl_wall: float) -> dict:
        """Run the extraction kernel in this process over a sample of the
        crawled pages, with spans around decode, parse, select and link
        extraction; the crawl's kernel share is estimated from the
        per-page cost, the pages extracted and the cores."""
        import dude_spark.extract as extract

        plan = self.app.compile()
        fetched = {u for u, _ in self.oracle.trace}
        pages = [p for p in self.corpus.pages if p.url in fetched][:400]
        sample = [(p.url, zlib.compress(p.html, 1)) for p in pages]
        rows = 0
        tracer.patch(extract, "parse_html", "dom.parse_html", spark=False)
        tracer.patch(extract, "select", "dom.select", spark=False)
        tracer.patch(extract, "extract_links", "extract.extract_links", spark=False)
        try:
            with tracer.span("extract.kernel_replay", spark=False) as root:
                for url, stored in sample:
                    with tracer.span("extract.decode", spark=False):
                        html = zlib.decompress(stored)
                    with tracer.span("extract.extract_page_rows", spark=False):
                        rows += len(extract.extract_page_rows(
                            plan, url, html, follow_urls=True
                        ))
        finally:
            tracer.unpatch()
        tracer.self_times()
        n = len(sample)
        rid = root["id"]
        kernel_s = root["dur"] / n
        return {
            "extract.kernel_pages_per_s": n / root["dur"],
            "extract.decode_us_per_page": tracer.total("extract.decode", "dur", rid) / n * 1e6,
            "dom.parse_us_per_page": tracer.total("dom.parse_html", "dur", rid) / n * 1e6,
            "dom.select_us_per_page": tracer.total("dom.select", "dur", rid) / n * 1e6,
            "extract.links_us_per_page": tracer.total("extract.extract_links", "dur", rid) / n * 1e6,
            "extract.rows_per_page": rows / n,
            "extract.kernel_share": pages_hit * kernel_s / self.cores / crawl_wall,
        }


# -- text pipeline ------------------------------------------------------------

DOCS_SPEC = gen.DocsSpec(
    docs=240, min_len=20, max_len=30, near_dup_groups=20, decoys=15,
    eval_docs=30, contaminated=30,
)
# banded LSH with 2 rows per band: a planted pair (Jaccard > 0.89) is a
# candidate with probability > 1 - 1e-5, so the correctness check on
# planted pairs is deterministic in practice whatever the hash salts are
LSH_K, LSH_BANDS = 16, 8


class TextopsWorkload(Workload):
    def setup(self, spark) -> None:
        self.spark = spark
        self.docs = gen.make_docs(DOCS_SPEC, self.seed)
        schema = "doc_id long, text string"
        self.train = spark.createDataFrame(
            pd.DataFrame(self.docs.train, columns=["doc_id", "text"]), schema
        ).cache()
        self.train.count()
        self.eval = spark.createDataFrame(
            pd.DataFrame(self.docs.eval, columns=["doc_id", "text"]), schema
        ).cache()
        self.eval.count()
        self._oracles = None
        # warm-up on a small slice: python workers, JIT and codegen of
        # every stage of the pass
        keep = _persistent_rdd_ids(spark)
        from dude_spark.textops.dedup import minhash_signature

        warm = spark.createDataFrame(
            pd.DataFrame(self.docs.train[:40], columns=["doc_id", "text"]),
            "doc_id long, text string",
        )
        _noop(minhash_signature(warm, k=LSH_K))
        self._decontam(warm)
        _release_since(spark, keep)
        self._keep = _persistent_rdd_ids(spark)

    def _dedup(self, docs):
        from dude_spark.textops.dedup import (
            minhash_lsh_pairs, ngram_jaccard_pairs, transitive_representatives,
        )

        # cached: the verify stage reads the candidates twice
        cand = minhash_lsh_pairs(docs, k=LSH_K, bands=LSH_BANDS).cache()
        verified = ngram_jaccard_pairs(
            docs, threshold=DOCS_SPEC.threshold, candidates=cand
        )
        reps = transitive_representatives(verified.select("doc_a", "doc_b"))
        return {r["doc_id"]: r["keep_doc_id"] for r in reps.collect()}

    def _decontam(self, docs):
        from dude_spark.textops.dedup import decontaminate

        hits = decontaminate(docs, self.eval, k=DOCS_SPEC.gram_k)
        return {r["doc_id"]: r["n_contaminated_grams"] for r in hits.collect()}

    @property
    def oracles(self):
        if self._oracles is None:
            self._oracles = (gen.dedup_oracle(self.docs), gen.decontam_oracle(self.docs))
        return self._oracles

    def op(self) -> dict:
        t0, c0 = time.perf_counter(), engine_cpu_s()
        reps = self._dedup(self.train)
        t1 = time.perf_counter()
        contam = self._decontam(self.train)
        t2, c2 = time.perf_counter(), engine_cpu_s()
        _release_since(self.spark, self._keep)
        n = len(self.docs.train)
        return {
            "seconds": t2 - t0, "cpu_s": c2 - c0, "items": n,
            "dedup_s": t1 - t0, "decontam_s": t2 - t1,
            "reps": reps, "contam": contam,
        }

    def checks(self, out: dict) -> Dict[str, bool]:
        reps_o, contam_o = self.oracles
        return {
            "components_equal_exact": out["reps"] == reps_o,
            "planted_pairs_merged": all(
                out["reps"].get(a) is not None and out["reps"].get(a) == out["reps"].get(b)
                for a, b in self.docs.planted
            ),
            "decontam_counts_equal_exact": out["contam"] == contam_o,
        }

    def traced_op(self, tracer: Tracer) -> dict:
        import dude_spark.graph as graph
        import dude_spark.textops.dedup as dedup

        docs = self.train
        text = F.col("text")
        tracer.patch(dedup, "tokens", "textops.tokens")
        tracer.patch(dedup, "word_shingles", "textops.word_shingles")
        tracer.patch(dedup, "minhash_signature", "textops.minhash_signature")
        tracer.patch(graph, "connected_components", "graph.connected_components")
        t = {}
        try:
            with tracer.span("textops.pass") as root:
                # each stage materialized on its own; stages whose API
                # takes the text re-run their upstream, so their self time
                # is the difference to the stage before
                for stage, build in (
                    ("tokenize", lambda: docs.select("doc_id", dedup.tokens(text))),
                    ("shingles", lambda: docs.select("doc_id", dedup.word_shingles(text))),
                    ("minhash", lambda: dedup.minhash_signature(docs, k=LSH_K)),
                    ("lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs, k=LSH_K, bands=LSH_BANDS)),
                ):
                    with tracer.span(f"textops.stage.{stage}") as s:
                        df = build()
                        if stage == "lsh_pairs":
                            df = df.cache()
                        _noop(df)
                    t[stage] = s["end"] - s["start"]
                cand = df
                with tracer.span("textops.stage.verify") as s:
                    verified = dedup.ngram_jaccard_pairs(
                        docs, threshold=DOCS_SPEC.threshold, candidates=cand
                    ).cache()
                    _noop(verified)
                t["verify"] = s["end"] - s["start"]
                with tracer.span("textops.stage.components") as s:
                    reps = {
                        r["doc_id"]: r["keep_doc_id"]
                        for r in dedup.transitive_representatives(
                            verified.select("doc_a", "doc_b")
                        ).collect()
                    }
                t["components"] = s["end"] - s["start"]
                with tracer.span("textops.stage.decontam") as s:
                    contam = self._decontam(docs)
                t["decontam"] = s["end"] - s["start"]
                n_cand = cand.count()
                n_verified = verified.count()
        finally:
            tracer.unpatch()
        _release_since(self.spark, self._keep)
        out = {"reps": reps, "contam": contam}
        reps_o, _ = self.oracles
        merged = sum(
            1 for a, b in self.docs.planted
            if reps.get(a) is not None and reps.get(a) == reps.get(b)
        )
        return {
            "_root": root["id"],
            "_wall": root["end"] - root["start"],
            "_checks": self.checks(out),
            "textops.tokenize_s": t["tokenize"],
            "textops.shingles_s": max(0.0, t["shingles"] - t["tokenize"]),
            "textops.minhash_s": max(0.0, t["minhash"] - t["shingles"]),
            "textops.lsh_pairs_s": max(0.0, t["lsh_pairs"] - t["minhash"]),
            "textops.verify_s": t["verify"],
            "graph.components_s": t["components"],
            "textops.decontam_s": t["decontam"],
            "textops.candidate_pairs": n_cand,
            "textops.lsh_precision": n_verified / max(1, n_cand),
            "textops.planted_recall": merged / len(self.docs.planted),
        }


WORKLOADS = {
    "crawl_bfs": lambda seed, work, cores: CrawlWorkload(seed, work, cores, BFS_SPEC),
    "textops_dedup": TextopsWorkload,
}
