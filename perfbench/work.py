"""The workloads.  Each runs one client in a closed loop: the next
operation starts when the previous one has returned and been checked.

An operation's result is checked every time it runs; every mismatch is a
failed operation.  With tracing on, a workload also times its layers
through spans around calls into the package's public functions and reads
Spark's counters after each action.  The traced extract run also drives
the job.py manifest path, which costs too much per run to be a workload
of its own (see NOTES.md).
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.probe import (
    RssSampler,
    SparkCounters,
    count_jobs,
    job_seconds,
    tree_usage,
)

WHY = {
    "extract": "segmentation, keep-filter and XY-cut kernels plus the Arrow "
               "UDF boundary do nearly all the work; no shuffle, no writes",
    "layout": "the layout-model queries: geometry, predicates, layout_ops, "
              "OCR aggregation and detect_lines, which run nowhere else; "
              "no extraction kernel runs",
    "curate": "shuffles, MinHash-LSH and connected components do the work; "
              "no extraction kernel runs",
}
#: the workloads BENCHMARK.json lists.  curate runs only when asked for:
#: on most seeds its cluster ids are wrong (the connected-components
#: defect, NOTES.md finding 3), and a gated workload must check correct
BENCHMARK_WORKLOADS = ("extract", "layout")

#: warm-up before any operation is measured: at least this many
#: operations, taking at least this many seconds (checks not counted)
WARMUP_OPS = 2
WARMUP_S = 10
#: input size per workload: pages, lineitem rows of the layout tables
#: (events and orders are half and a quarter of it), or corpus rows
SIZES = {"extract": 3_000, "layout": 10_000, "curate": 4_000}
#: manifest probe of the traced extract run: resume buckets, and how many
#: are committed before the interruption
MANIFEST_BUCKETS = 4
MANIFEST_FIRST = 2
LAYOUT_QUERIES = {
    "geom_rect_algebra": "functions.geometry",
    "geom_is_in_join": "functions.predicates",
    "geom_intersect_union": "functions.predicates",
    "layout_filter_sort_concat": "operators.layout_ops",
    "layout_homogenize": "operators.layout_ops",
    "ocr_gather_data": "operators.ocr_agg",
    "detect_lines": "operators.grouping",
}


class Outcome:
    """Counts of checked operations."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool):
        self.attempted += 1
        self.failed += not ok

    def add(self, attempted: int, failed: int):
        """``attempted`` operations of which ``failed`` did not match."""
        self.attempted += attempted
        self.failed += failed


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def timed_op(wl):
    """Run one operation, then check its result; returns the wall seconds
    and process-tree CPU seconds of the operation, without the check."""
    cpu0 = tree_usage()[0]
    t0 = time.perf_counter()
    result = wl.op()
    wall = time.perf_counter() - t0
    cpu = tree_usage()[0] - cpu0
    wl.check(result)
    return wall, cpu


def warm_up(wl):
    """WARMUP_OPS operations or more, until they have taken WARMUP_S.  The
    JVM compiles the planner and executor paths over the first operations:
    a curate operation takes about twice as long the first time as the
    third, and an extract operation about three times, so measuring right
    after a single warm-up operation would sample a slope."""
    ops, spent = 0, 0.0
    while ops < WARMUP_OPS or spent < WARMUP_S:
        spent += timed_op(wl)[0]
        ops += 1


def closed_loop(wl, seconds: float):
    """Warm-up, then operations for ``seconds``; returns the per-operation
    samples of wall time, throughput and process-tree CPU, and the peak
    process-tree RSS."""
    warm_up(wl)
    walls, cpus = [], []
    with RssSampler() as rss:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or not walls:
            wall, cpu = timed_op(wl)
            walls.append(wall)
            cpus.append(cpu)
    return {
        "wall_s": walls,
        "docs_per_s": [wl.docs / w for w in walls],
        "cpu_s_per_kdoc": [1000 * c / wl.docs for c in cpus],
        "peak_rss_mb": rss.peak / 1e6,
    }


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def plan_prefix(df, column: str):
    """The sub-plan of ``df``'s analyzed plan that introduces ``column``, as
    a DataFrame: from the root, follow the first child that outputs
    ``column`` down to the lowest node that does.  It runs the program's own
    stages up to that column and nothing after it."""
    from pyspark.sql.classic.dataframe import DataFrame

    def names(node):
        attrs = node.output()
        return {attrs.apply(i).name() for i in range(attrs.size())}

    node = df._jdf.queryExecution().analyzed()
    if column not in names(node):
        raise KeyError(column)
    while True:
        kids = node.children()
        below = [kids.apply(i) for i in range(kids.size())
                 if column in names(kids.apply(i))]
        if not below:
            break
        node = below[0]
    session = df.sparkSession
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, node)
    return DataFrame(jdf, session)


def median_time(fn, reps: int):
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


class Workload:
    """Base: ``op()`` runs one operation and returns its result, ``check()``
    counts the result's mismatches, ``layers()`` returns the per-layer
    metrics of a traced run, named with their units in ``LAYERS``."""

    LAYERS: dict = {}

    def __init__(self, bench, input_dir: str, meta: dict):
        self.bench = bench
        self.spark = bench.spark
        self.tracer = bench.tracer
        self.input_dir = input_dir
        self.meta = meta
        self.outcome = Outcome()
        self.docs = meta["docs"]

    def span(self, name):
        return self.tracer.span(name)


# ---------------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------------


class Extract(Workload):
    LAYERS = {
        "sources.scan_s": "s",
        "plans.segment.self_s": "s",
        "plans.extract.keep_self_s": "s",
        "plans.reading_order.self_s": "s",
        "plans.segment.kernel_docs_per_cpu_s": "doc/s",
        "plans.reading_order.kernel_us_per_block": "us",
        "plans.segment.blocks_out": "count",
        "plans.extract.kept_block_frac": "ratio",
        "plans.extract.kept_block_frac_base": "count",
        "plans.manifest.bucket_commit_s": "s",
        "plans.manifest.jobs": "count",
        "plans.manifest.input_read_amplification": "ratio",
        "plans.manifest.bytes_written_per_input_byte": "ratio",
        "plans.manifest.resume_wall_s": "s",
    }

    def __init__(self, *a):
        super().__init__(*a)
        from pyspark.sql import functions as F

        self.F = F
        self.pages_dir = os.path.join(self.input_dir, "pages")
        src = pq.read_table(self.pages_dir, columns=["url", "text"])
        self.expected = {
            u: md5_hex(t)
            for u, t in zip(src.column("url").to_pylist(),
                            src.column("text").to_pylist())
        }

    def op(self):
        from layout_parser_spark.plans.extract import extract_main_text

        F = self.F
        with self.span("extract.op"):
            pages = self.spark.read.parquet(self.pages_dir)
            with self.span("plans.extract.extract_main_text"):
                out = extract_main_text(pages).select(
                    "url", F.md5(F.col("extracted_text")).alias("h")
                )
            with self.span("action.collect"):
                got = out.toArrow()
        return got

    def check(self, got):
        self.check_pages(zip(got.column("url").to_pylist(),
                             got.column("h").to_pylist()))

    def check_pages(self, url_hashes):
        """Every source url exactly once, with the md5 of its text."""
        seen = {}
        for u, h in url_hashes:
            seen[u] = None if u in seen else h
        bad = sum(1 for u, h in self.expected.items() if seen.get(u) != h)
        bad += sum(1 for u in seen if u not in self.expected)
        self.outcome.add(len(self.expected), bad)

    def layers(self):
        from layout_parser_spark.plans.extract import extract_main_text
        from layout_parser_spark.plans.segment import segment_pages_arrays

        F = self.F
        pages = lambda: self.spark.read.parquet(self.pages_dir)  # noqa: E731
        # nested noop-sink prefixes: scan, +segment, +keep, +XY-cut.  The
        # keep prefix is the full plan without the XY-cut column: the
        # optimizer prunes the unused UDF and keeps n_blocks = size(kept).
        prefixes = [
            ("sources.scan", lambda: pages()),
            ("plans.segment", lambda: segment_pages_arrays(pages())),
            ("plans.extract.keep",
             lambda: extract_main_text(pages()).drop("extracted_text")),
            ("plans.reading_order", lambda: extract_main_text(pages())),
        ]
        t = {}
        for name, build in prefixes:
            with self.span(f"prefix.{name}"):
                t[name] = median_time(lambda: noop(build()), 3)
        out = {
            "sources.scan_s": t["sources.scan"],
            "plans.segment.self_s": t["plans.segment"] - t["sources.scan"],
            "plans.extract.keep_self_s":
                t["plans.extract.keep"] - t["plans.segment"],
            "plans.reading_order.self_s":
                t["plans.reading_order"] - t["plans.extract.keep"],
        }
        with self.span("counts"):
            seg = segment_pages_arrays(pages())
            blocks = seg.agg(F.sum(F.size("_btext"))).collect()[0][0]
            kept = extract_main_text(pages()).drop("extracted_text").agg(
                F.sum("n_blocks")
            ).collect()[0][0]
        out["plans.segment.blocks_out"] = blocks
        out["plans.extract.kept_block_frac"] = kept / blocks
        out["plans.extract.kept_block_frac_base"] = blocks
        with self.span("kernels"):
            out.update(self.kernels())
        with self.span("plans.manifest"):
            out.update(self.manifest())
        return out

    def kernels(self, n_pages: int = 400):
        """Segmentation and XY-cut kernels called in-process on one thread
        over the first pages of the input, timed in process CPU seconds.
        XY-cut runs on the blocks the typed-boilerplate rule keeps."""
        import numpy as np

        from layout_parser_spark.plans.reading_order import xy_cut_indices
        from layout_parser_spark.plans.segment import (
            BOILERPLATE_TYPES,
            parse_page_arrays,
        )

        html = pq.read_table(self.pages_dir, columns=["html"]).slice(
            0, n_pages).column("html").to_pylist()
        html = [h.decode("utf-8") for h in html]
        for h in html[:20]:
            parse_page_arrays(h)
        t0 = time.process_time()
        parsed = [parse_page_arrays(h) for h in html]
        seg_cpu = time.process_time() - t0
        boxes = []
        for _w, _h, (x1, y1, x2, y2, _t, types, _p, _s) in parsed:
            keep = [i for i, ty in enumerate(types)
                    if ty not in BOILERPLATE_TYPES and ty != "Figure"]
            boxes.append(tuple(
                np.asarray([c[i] for i in keep], dtype="float64")
                for c in (x1, y1, x2, y2)
            ))
        n_blocks = sum(len(b[0]) for b in boxes)
        t0 = time.process_time()
        for b in boxes:
            xy_cut_indices(*b)
        xy_cpu = time.process_time() - t0
        return {
            "plans.segment.kernel_docs_per_cpu_s": len(html) / seg_cpu,
            "plans.reading_order.kernel_us_per_block": 1e6 * xy_cpu / n_blocks,
        }

    def manifest(self):
        """The job.py path over the same pages: bucketed output plus
        manifest rows through run_with_manifest, interrupted after
        MANIFEST_FIRST buckets and resumed.  Checks every url exactly once
        and byte-identical, and each bucket's manifest row against its
        output."""
        from layout_parser_spark.plans.extract import extract_main_text
        from layout_parser_spark.plans.manifest import run_with_manifest

        out = os.path.join(self.bench.cache, "work", "manifest")
        shutil.rmtree(out, ignore_errors=True)
        marks = []

        # job.py's pipeline, with a timestamp at each bucket's start
        def pipeline(df):
            marks.append(time.perf_counter())
            return extract_main_text(df).select(
                "url", "warc_ts", "lang", "extracted_text", "n_blocks")

        pages = self.spark.read.parquet(self.pages_dir)
        counters = SparkCounters(self.spark)
        counters.mark()

        def run(max_buckets):
            run_with_manifest(self.spark, pages, out,
                              n_buckets=MANIFEST_BUCKETS, pipeline=pipeline,
                              max_buckets_per_run=max_buckets)
            marks.append(time.perf_counter())

        _, jobs = count_jobs(self.spark, "perfbench-manifest-0",
                             lambda: run(MANIFEST_FIRST))
        first_end = len(marks)
        t0 = time.perf_counter()
        _, jobs2 = count_jobs(self.spark, "perfbench-manifest-1",
                              lambda: run(None))
        resume = time.perf_counter() - t0
        # bytes of the pages table's files that scans read
        read = sum(
            m.get("size of files read", 0)
            for name, desc, m in counters.nodes()
            if name.startswith("Scan parquet") and self.pages_dir in desc
        )
        table_bytes = sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(self.pages_dir, "*.parquet")))
        out_bytes = sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(out, "**", "*.parquet"), recursive=True))
        self.check_manifest_output(out)
        shutil.rmtree(out, ignore_errors=True)
        # a bucket runs from its pipeline call to the next one, or to the
        # end of its invocation
        commits = [b - a for a, b in zip(marks[:first_end - 1],
                                         marks[1:first_end])]
        commits += [b - a for a, b in zip(marks[first_end:], marks[first_end + 1:])]
        return {
            "plans.manifest.bucket_commit_s": statistics.median(commits),
            "plans.manifest.jobs": jobs + jobs2,
            "plans.manifest.input_read_amplification": read / table_bytes,
            "plans.manifest.bytes_written_per_input_byte":
                out_bytes / table_bytes,
            "plans.manifest.resume_wall_s": resume,
        }

    def check_manifest_output(self, out):
        per_bucket = {}
        pairs = []
        for d in sorted(glob.glob(os.path.join(out, "bucket=*"))):
            t = pq.read_table(d, columns=["url", "extracted_text"])
            texts = t.column("extracted_text").to_pylist()
            per_bucket[int(d.rsplit("=", 1)[1])] = (
                t.num_rows, sum(len(x) for x in texts))
            pairs += zip(t.column("url").to_pylist(), map(md5_hex, texts))
        self.check_pages(pairs)
        rows = {}
        for r in pq.read_table(os.path.join(out, "_manifest")).to_pylist():
            rows.setdefault(r["bucket_id"], []).append(r)
        for b in range(MANIFEST_BUCKETS):
            got = rows.get(b, [])
            self.outcome.check(
                len(got) == 1
                and got[0]["status"] == "done"
                and (got[0]["doc_count"], got[0]["byte_count"])
                == per_bucket.get(b, (0, 0)))


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def union_find_labels(ids, pairs):
    """Minimum member of each connected component, per id."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {i: find(i) for i in ids}


class Curate(Workload):
    COLS = ["url", "url_keep", "exact_keep", "cluster_id", "cluster_keep",
            "quality_keep", "keep"]
    LAYERS = {
        "plans.curate.build_s": "s",
        "plans.curate.build_jobs": "count",
        "plans.curate.build_job_s": "s",
        "plans.curate.collect_s": "s",
        "plans.curate.url_stage_s": "s",
        "plans.curate.exact_stage_s": "s",
        "operators.dedup.minhash_lsh_pairs.build_s": "s",
        "operators.dedup.minhash_lsh_pairs.exec_s": "s",
        "operators.dedup.minhash_lsh_pairs.pairs_out": "count",
        "operators.dedup.minhash_lsh_pairs.jobs_at_build": "count",
        "operators.webgraph.connected_components.s": "s",
        "operators.webgraph.connected_components.jobs": "count",
        "operators.text_analysis.hashed_linear_score_s": "s",
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus_dir = os.path.join(self.input_dir, "corpus")
        self.truth = self.meta["truth"]
        self.reference = None

    def corpus(self):
        return self.spark.read.parquet(self.corpus_dir)

    def op(self):
        from layout_parser_spark.plans.curate import (
            curate_corpus,
            curation_stats,
        )

        with self.span("curate.op"):
            with self.span("plans.curate.curate_corpus"):
                annotated = curate_corpus(self.corpus())
            with self.span("action.collect"):
                flags = annotated.select(*self.COLS).toArrow()
            with self.span("plans.curate.curation_stats"):
                stats = curation_stats(annotated).collect()[0].asDict()
        return flags, stats

    def cluster_reference(self, rows):
        """Union-find over the engine's own minhash_lsh_pairs output on the
        exact-stage survivors."""
        from pyspark.sql import functions as F

        from layout_parser_spark.operators.dedup import minhash_lsh_pairs

        survivors = [r["url"] for r in rows if r["exact_keep"]]
        keep = self.spark.createDataFrame([(u,) for u in survivors], "url string")
        docs = self.corpus().join(keep, "url").select(
            F.col("url").alias("doc_id"), F.col("extracted_text").alias("text"))
        pairs = [(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()]
        return union_find_labels(survivors, pairs)

    def check(self, result):
        flags, stats = result
        rows = flags.to_pylist()
        o = self.outcome
        n_url = sum(r["url_keep"] for r in rows)
        n_exact = sum(r["exact_keep"] for r in rows)
        o.check(len(rows) == self.truth["n_input"])
        o.check(n_url == self.truth["url_keep"])
        o.check(n_exact == self.truth["exact_keep"])
        o.check(stats == {
            "n_input": len(rows),
            **{c: sum(bool(r[c]) for r in rows) for c in self.COLS[1:]
               if c != "cluster_id"},
        })
        if self.reference is None:
            self.reference = self.cluster_reference(rows)
        for r in rows:
            if not r["exact_keep"]:
                continue
            want = self.reference.get(r["url"])
            o.check(r["cluster_id"] == want
                    and r["cluster_keep"] == (want == r["url"]))

    def layers(self):
        from pyspark.sql import functions as F

        from layout_parser_spark.operators.dedup import minhash_lsh_pairs
        from layout_parser_spark.operators.text_analysis import (
            hashed_linear_score,
        )
        from layout_parser_spark.operators.webgraph import connected_components
        from layout_parser_spark.plans.curate import curate_corpus

        sp = self.spark
        out = {}
        # one curate_corpus call split into plan build (which runs the
        # clustering's Spark jobs) and the collect that executes the rest
        with self.span("plans.curate.curate_corpus"):
            t0 = time.perf_counter()
            annotated, jobs = count_jobs(
                sp, "perfbench-curate-build",
                lambda: curate_corpus(self.corpus()))
            out["plans.curate.build_s"] = time.perf_counter() - t0
        out["plans.curate.build_jobs"] = jobs
        out["plans.curate.build_job_s"] = job_seconds(
            sp, "perfbench-curate-build")
        with self.span("action.collect"):
            t0 = time.perf_counter()
            annotated.select(*self.COLS).toArrow()
            out["plans.curate.collect_s"] = time.perf_counter() - t0
        # nested noop-sink prefixes of curate_corpus's own plan: the scan,
        # then the sub-plan that adds url_keep, then the one that adds
        # exact_keep
        url_stage = plan_prefix(annotated, "url_keep")
        exact_stage = plan_prefix(annotated, "exact_keep")
        t = {}
        for name, df in (("scan", self.corpus()), ("url", url_stage),
                         ("exact", exact_stage)):
            with self.span(f"prefix.plans.curate.{name}"):
                t[name] = median_time(lambda: noop(df), 3)
        out["plans.curate.url_stage_s"] = t["url"] - t["scan"]
        out["plans.curate.exact_stage_s"] = t["exact"] - t["url"]
        # the exact-stage survivors, materialized so later stages time
        # only themselves
        survivors = exact_stage.where("exact_keep").select(
            F.col("url").alias("doc_id"),
            F.col("extracted_text").alias("text")).toPandas()
        self.outcome.check(len(survivors) == self.truth["exact_keep"])
        docs = sp.createDataFrame(survivors).localCheckpoint(eager=True)
        with self.span("operators.dedup.minhash_lsh_pairs"):
            t0 = time.perf_counter()
            pairs_df, jobs = count_jobs(
                sp, "perfbench-lsh-build", lambda: minhash_lsh_pairs(docs))
            build = time.perf_counter() - t0
            t0 = time.perf_counter()
            pairs = pairs_df.collect()
            exec_s = time.perf_counter() - t0
        out["operators.dedup.minhash_lsh_pairs.build_s"] = build
        out["operators.dedup.minhash_lsh_pairs.exec_s"] = exec_s
        out["operators.dedup.minhash_lsh_pairs.pairs_out"] = len(pairs)
        out["operators.dedup.minhash_lsh_pairs.jobs_at_build"] = jobs
        # a lone self-loop, which connected_components drops, stands in
        # for an empty pair list
        edges = sp.createDataFrame(
            [(r.id_a, r.id_b) for r in pairs] or [("a", "a")],
            "id_a string, id_b string").localCheckpoint(eager=True)
        with self.span("operators.webgraph.connected_components"):
            t0 = time.perf_counter()
            _, jobs = count_jobs(
                sp, "perfbench-cc",
                lambda: noop(connected_components(edges, u="id_a", v="id_b")))
            out["operators.webgraph.connected_components.s"] = (
                time.perf_counter() - t0)
            out["operators.webgraph.connected_components.jobs"] = jobs
        with self.span("operators.text_analysis.hashed_linear_score"):
            out["operators.text_analysis.hashed_linear_score_s"] = median_time(
                lambda: noop(hashed_linear_score(docs)), 3)
        return out


# ---------------------------------------------------------------------------
# layout
# ---------------------------------------------------------------------------


def _normalize(df):
    cols = sorted(df.columns)
    rows = []
    for tup in df[cols].itertuples(index=False, name=None):
        rows.append(tuple(
            "NaN" if isinstance(v, float) and math.isnan(v) else v
            for v in tup))
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    return cols, rows


class Layout(Workload):
    """The layout-model queries of ``__spark_entry__`` over seeded tables in
    the shape they read.  One operation builds and collects every query;
    each result is checked against its DuckDB oracle."""

    LAYERS = {
        **{f"{layer}.{q}.{part}": "s"
           for q, layer in LAYOUT_QUERIES.items()
           for part in ("build_s", "exec_s")},
        "operators.grouping.detect_lines.jobs": "count",
    }

    def __init__(self, *a):
        super().__init__(*a)
        import duckdb

        import __spark_entry__ as entry

        self.queries = {n: entry.queries()[n] for n in LAYOUT_QUERIES}
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("lineitem", "events", "orders"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{self.input_dir}/{t}.parquet/*.parquet')")
            self.expected = {
                n: _normalize(con.execute(oracles[n]).fetchdf())
                for n in LAYOUT_QUERIES
            }
        finally:
            con.close()

    def run_query(self, name):
        """(result, build seconds, execute seconds) of one query."""
        with self.span(f"{LAYOUT_QUERIES[name]}.{name}"):
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.input_dir)
            t1 = time.perf_counter()
            got = df.toPandas()
            t2 = time.perf_counter()
        return got, t1 - t0, t2 - t1

    def op(self):
        with self.span("layout.op"):
            return {n: self.run_query(n)[0] for n in LAYOUT_QUERIES}

    def check(self, results):
        for name, got in results.items():
            self.outcome.check(_normalize(got) == self.expected[name])

    def layers(self, reps: int = 3):
        """Median build and execute seconds of each query over ``reps``
        runs, and the Spark jobs of one detect_lines run."""
        out = {}
        for name, layer in LAYOUT_QUERIES.items():
            builds, execs = [], []
            for rep in range(reps):
                (got, build, exec_s), jobs = count_jobs(
                    self.spark, f"perfbench-{name}-{rep}",
                    lambda: self.run_query(name))
                self.check({name: got})
                builds.append(build)
                execs.append(exec_s)
            out[f"{layer}.{name}.build_s"] = statistics.median(builds)
            out[f"{layer}.{name}.exec_s"] = statistics.median(execs)
            if name == "detect_lines":
                out[f"{layer}.{name}.jobs"] = jobs
        return out


WORKLOADS = {
    "extract": (Extract, gen.build_pages),
    "layout": (Layout, gen.build_layout),
    "curate": (Curate, gen.build_corpus),
}
