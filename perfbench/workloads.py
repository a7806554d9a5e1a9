"""The two benchmark workloads, each a closed loop with one client.

A workload is a sequence of *steps*; the client submits the next step only
after the previous one returns. A step is one unit of user-visible work:

* ``html_crawl``  one ``run_extraction`` pass over the whole HTML corpus
  into the noop sink (the shape of ``bench.py``'s ``extract`` key);
* ``query_tail``  one registered query: build ``fn(spark, sf_dir)``, then
  collect its rows (the sub-second tail of ``bench.py``'s query keys).

Calls into program layers go through :func:`layer_call`, which records a
span and Spark's stage diff when tracing is on and costs one branch when
it is off.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.procstat import cpu_delta, process_tree
from perfbench.sparkstat import StageWindow, job_ids, task_seconds
from perfbench.trace import Tracer

HOT = ["host-0.example"]
SAMPLE_DOCS = 300  # kernel-probe and identity-sample size

# query_tail: sub-second keys of the frozen suite across operator
# families, a few synthesize-then-extract format queries, and the
# materializing dedup family
QUERY_TAIL = (
    # relational / TPC-H shaped
    "q01_scan_agg", "q02_topk_per_group", "q59_rollup_report", "q64_pivot_report",
    "q72_set_ops",
    # windows and event streams
    "q04_sessions", "q62_tumbling_windows", "q47_asof_join", "q03_local_max",
    "q23_json_props",
    # strings and arrays
    "q34_string_funcs", "q31_array_hof_filters",
    # sampling
    "q45_hash_sample", "q57_weighted_sample",
    # text quality and language models
    "q20_lang_id", "q21_quality", "q50_bm25", "q55_unigram_nll", "q82_gopher_rules",
    # exact and near dedup, with the materializing family
    "q13_dedup_exact", "q15_minhash_lsh", "q32_dedup_clusters", "q56_dup_spans",
    # vectors and gathers
    "q17_ann_brute", "q18_ann_bucketed", "q30_gather_sorted",
    # crawl frontier and urls
    "q41_url_canonical", "q42_outlinks", "q124_zipf_host_topk", "q177_crawl_budget",
    # page metadata
    "q43_page_metadata", "q98_jsonld_extract", "q148_opengraph",
    # media
    "q93_gif_pixels",
    # evaluation
    "q08_pr_hmean", "q09_ap", "q06_dontcare_anti", "q28_class_histogram",
    # synthesize -> extract format queries
    "q25_extract", "q40_pdf_extract", "q152_markdown_extract",
)
WARMUP_QUERIES = ("q25_extract", "q01_scan_agg")
RAMP_QUERIES = (
    "q65_group_percentiles", "q24_levenshtein", "q12_topk_mean", "q60_normalized_dedup",
    "q71_host_profile", "q88_c4_rules", "q63_token_packing", "q92_frontier_schedule",
    "q33_skew_safe_topk", "q29_repeat_factor", "q10_occupancy", "q101_corpus_stats",
    "q97_bpe_pairs", "q69_change_rate", "q68_session_window", "q61_funnel_report",
)

@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    tracer: Tracer = field(default_factory=lambda: Tracer(False))


@dataclass
class Step:
    wall: float = 0.0
    cpu: float = 0.0
    key: str = ""  # query name for query_tail
    latencies: list = field(default_factory=list)  # per-unit latencies (s)
    failed: int = 0
    digest: str = ""


def force(df) -> None:
    """Evaluate a DataFrame fully into the noop sink (no collect, no disk)."""
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def layer_call(ctx: Ctx, name: str):
    """Span around one call into a program layer; with tracing on, the
    Spark stage diff of the jobs it ran is attached as ``spark``. The
    status-store snapshots sit outside the span's own interval."""
    if not ctx.tracer.enabled:
        yield {}
        return
    win = StageWindow(ctx.spark)
    attrs: dict = {}
    try:
        with ctx.tracer.span(name) as attrs:
            yield attrs
    finally:
        attrs["spark"] = win.finish()


def timed_step(ctx: Ctx, fn) -> Step:
    """Run one step, adding its wall clock and process-tree CPU."""
    before = process_tree()
    t0 = time.perf_counter()
    step = fn()
    step.wall = time.perf_counter() - t0
    step.cpu = sum(cpu_delta(before, process_tree()).values())
    return step


def _sample(items: list, seed: int, k: int) -> list:
    return random.Random(seed).sample(sorted(items), min(k, len(items)))


def _digest_aggs():
    """Row count and an order-insensitive digest of (url, text, spans)."""
    from pyspark.sql import functions as F

    return (
        F.count(F.lit(1)).alias("n"),
        F.hex(F.expr("bit_xor(xxhash64(url, extracted_text, spans))")).alias("d"),
    )


def _identity_sample(ctx: Ctx, pages, urls: list[str]) -> int:
    """Pages of ``urls`` extracted by the pipeline versus ``extract`` run
    in-process; returns the number whose text or spans differ."""
    from pyspark.sql import functions as F

    from toyocr_spark.extractor import extract
    from toyocr_spark.pipeline import run_extraction

    sub = pages.filter(F.col("url").isin(urls))
    html = {r["url"]: r["html"] for r in sub.select("url", "html").collect()}
    got = run_extraction(sub, num_partitions=ctx.cores).select("url", "extracted_text", "spans")
    rows = got.collect()
    bad = len(urls) - len(rows)  # pages missing from the input or the output
    for r in rows:
        ref = extract(html[r["url"]])
        spans = tuple((s["start"], s["end"], s["kind"]) for s in r["spans"])
        bad += (r["extracted_text"] != ref.text) or (spans != ref.spans)
    return bad


# ---------------------------------------------------------------- html_crawl


class HtmlCrawl:
    name = "html_crawl"

    def _pages(self, ctx: Ctx):
        from toyocr_spark.sources.pages import read_pages

        with layer_call(ctx, "sources.read_pages"):
            return read_pages(ctx.spark, self.inp["path"])

    def warmup(self, ctx: Ctx) -> None:
        from toyocr_spark.pipeline import run_extraction

        force(run_extraction(self._pages(ctx).limit(32 * ctx.cores), num_partitions=ctx.cores))

    def steps_per_pass(self) -> int:
        return 1

    def ramp_steps(self, ctx: Ctx) -> list[Step]:
        """Two untimed passes before the loop: in a new JVM the first pass
        ran 5.9-7.2 s and the next ones 4.1-6.0 s on a 4-core host, still
        falling over the next two or three passes as the JVM warmed."""
        return [self.step(ctx, i) for i in range(2)]

    def scan(self, ctx: Ctx) -> None:
        force(self._pages(ctx).select("url", "html"))

    def prepare(self, ctx: Ctx, sess) -> dict:
        def spark():
            sess.start()
            return sess.spark

        self.inp = inputs.html_corpus(spark, ctx.work, ctx.seed)
        sess.shutdown()  # the set-up that is timed launches its own JVM
        return self.inp

    def step(self, ctx: Ctx, i: int) -> Step:
        from toyocr_spark.pipeline import run_extraction

        def go() -> Step:
            from pyspark.sql import Observation

            pages = self._pages(ctx)
            with layer_call(ctx, "pipeline.run_extraction"):
                df = run_extraction(pages, num_partitions=2 * ctx.cores, hot=HOT)
            # the output digest rides the timed action itself (no extra job)
            obs = Observation("html_crawl")
            df = df.observe(obs, *_digest_aggs())
            with layer_call(ctx, "spark.noop_write"):
                force(df)
            got = obs.get
            s = Step(digest=f"{got['n']}:{got['d']}")
            s.failed = abs(got["n"] - self.inp["docs"])
            return s

        jobs = job_ids(ctx.spark)
        s = timed_step(ctx, go)
        # the pass's unit latencies are its tasks' walls, read after the
        # timed step: stragglers (the hot host) show in the upper quantiles
        s.latencies = task_seconds(ctx.spark, jobs)
        return s

    def check(self, ctx: Ctx, steps: list[Step], reference: dict) -> dict:
        pages = self._pages(ctx)
        urls = _sample([r["url"] for r in pages.select("url").collect()], ctx.seed, SAMPLE_DOCS)
        sample_bad = _identity_sample(ctx, pages, urls)
        digests = {s.digest for s in steps}
        failed = sum(s.failed for s in steps) + sample_bad
        if len(digests) > 1:  # passes over the same input disagree
            failed = max(failed, self.inp["docs"] * len(steps))
        ref = reference.get(str(ctx.seed))
        ref_ok = None
        if ref is not None:
            ref_ok = (
                digests == {ref["output_digest"]} and ref["input_digest"] == self.inp["input_digest"]
            )
            if not ref_ok:
                failed = max(failed, self.inp["docs"] * len(steps))
        return {
            "attempted": self.inp["docs"] * len(steps),
            "failed": failed,
            "output_digest": sorted(digests)[0],
            "identity_sample": len(urls),
            "identity_sample_failed": sample_bad,
            "reference_match": ref_ok,
        }

    def sample_pages(self, ctx: Ctx) -> list[tuple[str, bytes]]:
        from pyspark.sql import functions as F

        pages = self._pages(ctx)
        urls = _sample([r["url"] for r in pages.select("url").collect()], ctx.seed + 1, SAMPLE_DOCS)
        rows = pages.filter(F.col("url").isin(urls)).select("url", "html").collect()
        return sorted((r["url"], bytes(r["html"])) for r in rows)


# ---------------------------------------------------------------- query_tail


def _canon(v):
    import datetime
    import decimal

    # + 0.0 turns -0.0 into 0.0: duckdb's round keeps the sign of a
    # negative value that rounds to zero and Spark's does not; the values
    # are equal, but their str() differs and would misalign the row sort
    if isinstance(v, float):
        return round(v, 9) + 0.0
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9) + 0.0
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def normalize(rows, cols) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, floats rounded, rows sorted: the oracle
    parity normalization of the repository's tests."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def rows_match(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) and math.isclose(
                x, y, rel_tol=0, abs_tol=1e-9
            ):
                continue
            return False
    return True


class QueryTail:
    name = "query_tail"

    def prepare(self, ctx: Ctx, sess) -> dict:
        from toyocr_spark.queries import QUERIES

        self.inp = inputs.sf_tables(ctx.work, ctx.seed)
        self.order = list(QUERY_TAIL)
        random.Random(ctx.seed).shuffle(self.order)
        self.specs = {q: QUERIES[q] for q in self.order}
        self.first_rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.digests: dict[str, set[str]] = {}
        self.builds: list[dict] = []
        return {**self.inp, "queries": len(self.order)}

    def warmup(self, ctx: Ctx) -> None:
        # the steps' own action (collect) on a query with a Python stage,
        # which starts the workers, and on a shuffle-and-aggregate query
        for q in WARMUP_QUERIES:
            self.specs[q].spark(ctx.spark, self.inp["path"]).collect()

    def steps_per_pass(self) -> int:
        return len(self.order)

    def ramp_steps(self, ctx: Ctx) -> list[Step]:
        """Registered queries outside the list, run untimed: the JVM's JIT
        warms on Spark's shared paths while every listed query still has
        its first execution timed."""
        from toyocr_spark.queries import QUERIES

        for q in RAMP_QUERIES:
            QUERIES[q].spark(ctx.spark, self.inp["path"]).collect()
        return []

    def step(self, ctx: Ctx, i: int) -> Step:
        import hashlib

        q = self.order[i % len(self.order)]
        fn = self.specs[q].spark

        def go() -> Step:
            t0 = time.perf_counter()
            with layer_call(ctx, f"queries.build:{q}") as a:
                df = fn(ctx.spark, self.inp["path"])
            build_s = time.perf_counter() - t0
            with layer_call(ctx, f"spark.collect:{q}"):
                rows = [tuple(r) for r in df.collect()]
            self.builds.append({"query": q, "build_s": build_s, "build_jobs": a.get("spark", {}).get("jobs")})
            cols, norm = normalize(rows, df.columns)
            self.first_rows.setdefault(q, (cols, norm))
            s = Step(key=q)
            s.digest = hashlib.sha256(repr((cols, norm)).encode()).hexdigest()[:16]
            return s

        s = timed_step(ctx, go)
        s.latencies = [s.wall]
        self.digests.setdefault(q, set()).add(s.digest)
        return s

    def _oracle(self, q: str, ctx: Ctx) -> tuple[list[str], list[tuple]]:
        """duckdb oracle rows for ``q`` over this seed's tables, normalized;
        cached next to the tables (they depend only on the seed)."""
        import duckdb

        cache = os.path.join(self.inp["path"], "_oracle", f"{q}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                cols, rows = json.load(f)
            return cols, [tuple(r) for r in rows]
        con = duckdb.connect()
        try:
            con.execute("SET memory_limit='1GB'")
            con.execute(f"SET threads={ctx.cores}")
            con.execute(f"SET temp_directory='{os.path.join(ctx.work, 'tmp', 'duckdb')}'")
            for t in inputs.tables.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{self.inp['path']}/{t}.parquet')"
                )
            res = con.execute(self.specs[q].sql)
            cols = [d[0] for d in res.description]
            cols, rows = normalize(res.fetchall(), cols)
        finally:
            con.close()
        # round-trip through JSON so cached and fresh oracles compare alike
        cols, rows = json.loads(json.dumps([cols, rows]))
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump([cols, rows], f)
        os.rename(cache + ".tmp", cache)
        return cols, [tuple(r) for r in rows]

    def check(self, ctx: Ctx, steps: list[Step], reference: dict) -> dict:
        bad: dict[str, str] = {}
        for q, (cols, rows) in self.first_rows.items():
            ocols, orows = self._oracle(q, ctx)
            rows = [tuple(r) for r in json.loads(json.dumps(rows))]
            if cols != ocols or not rows_match(rows, orows):
                bad[q] = "oracle mismatch"
            elif len(self.digests[q]) > 1:
                bad[q] = "result differs between executions"
        failed = sum(1 for s in steps if s.key in bad)
        return {
            "attempted": len(steps),
            "failed": failed,
            "mismatched": bad,
            "output_digest": {q: sorted(d)[0] for q, d in sorted(self.digests.items())},
        }

    def sample_pages(self, ctx: Ctx) -> list[tuple[str, bytes]]:
        """The pages the format queries hand to ``extract_pages``: each
        query is built once with that function wrapped to keep its input."""
        from toyocr_spark import pipeline

        captured = []
        real = pipeline.extract_pages

        def keep(pages, *a, **kw):
            captured.append(pages)
            return real(pages, *a, **kw)

        pipeline.extract_pages = keep
        try:
            for q in self.order:
                if q.endswith("_extract"):
                    self.specs[q].spark(ctx.spark, self.inp["path"])
        finally:
            pipeline.extract_pages = real
        per = max(1, SAMPLE_DOCS // max(1, len(captured)))
        out = []
        for df in captured:
            out += [(r["url"], bytes(r["html"])) for r in df.select("url", "html").limit(per).collect()]
        return sorted(out)

    def scan(self, ctx: Ctx) -> None:
        for t in ("lineitem", "orders", "events", "documents"):
            force(ctx.spark.read.parquet(os.path.join(self.inp["path"], f"{t}.parquet")))


WORKLOADS = {w.name: w for w in (HtmlCrawl, QueryTail)}


def per_pass(steps: list[Step], attr: str) -> float:
    """One pass's ``wall`` or ``cpu``: the sum over the pass's steps of each
    one's median (a single-step pass, html_crawl, keys every step alike)."""
    by_key: dict[str, list[float]] = {}
    for s in steps:
        by_key.setdefault(s.key, []).append(getattr(s, attr))
    return sum(statistics.median(v) for v in by_key.values())
