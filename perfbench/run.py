"""End-to-end benchmark of the crawl + extraction engine and the headline queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

One driver process, one Spark session at ``local[<cores>]``, one operation in
flight at a time (a closed loop with one client).  Inputs are generated from
``--seed``.  Outputs are checked against the repo's own oracles outside the
timed region; any failed check makes the exit code non-zero.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``).  Lines above it are a readable report.

Workloads (see README.md for why each exists):

* ``crawl_extract``: ``api.train_scraper`` on two example pages, then one
  fused crawl (seed + epochs, each epoch applying the trained plan and
  emitting images, with url_seen compaction) per operation;
* ``queries``: the eight headline queries of ``bench.py`` over tables
  generated from the sf0.1 model at its row counts, each forced with the
  noop sink.

``--trace 1`` enables Spark's event log for the run (through
``PYSPARK_SUBMIT_ARGS``; ``session.py`` is not touched), records spans around
every call into the engine, and times the Python hot loops driver-side on a
sample of the workload's own inputs after the timed region.  It never sets
``SPARK_GRAFT_TRACE``, which would add Spark actions to the plans observed.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

from querydata import write_tables
from rollup import (
    Span, assign_jobs, epoch_breakdown, job_totals, parse_event_log,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HEADLINE = [
    "q01_pricing_summary", "q04_shuffle_join", "q05_topk_per_group",
    "q19_minhash_lsh_pairs", "q21_cosine_topk", "q23_extract_scraper",
    "q24_match_scan", "q29_ann_ivf",
]
WORKLOADS = ("crawl_extract", "queries")

# crawl_extract shape.  Seed hosts are drawn from a larger host-id range so
# each seed gives another crawl; two seed pages per host make epoch 0 wide.
HOST_RANGE = 20_000
SEED_HOSTS = 600
CRAWL_EPOCHS = 1
BUDGET = 8
N_BUCKETS = 16
COMPACT_EVERY = 1  # not above CRAWL_EPOCHS, so url_seen compaction runs
N_EXAMPLES = 2
HOT_SAMPLE = 200   # pages per hot-loop measurement
PSNR_MIN_DB = 40.0
PSNR_SAMPLE = 20


def _now_ms() -> float:
    return time.time() * 1e3


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM, the Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers) every ``period`` seconds; keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *_descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSON
    lines at exit.  With ``enabled`` False every span is a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start_ms": _now_ms(), "end_ms": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_ms"] = _now_ms()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned call to it (traced runs only);
        callers inside the module resolve the global at call time."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)

    def write(self, path: str):
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# --------------------------------------------------------------------------
# environment
# --------------------------------------------------------------------------

def pin_environment(work: str, trace: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    confs = [f"spark.driver.extraJavaOptions={jvm_opts}"]
    if trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{ev_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    import pyspark

    return {
        "nproc": cores, "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "loadavg_start": _loadavg(),
    }


def start_session(tracer: Tracer):
    """The session alone.  No separate worker warm-up: training
    (crawl_extract, timed on its own) or the checking pass (queries, untimed)
    starts the Python workers and compiles plans before the timed work."""
    from mlscraper_spark.session import get_spark

    with tracer.span("session.start"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process the session started (the JVM, the Python worker
    daemon and its workers) has ended."""
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(map(_alive, started)) and time.monotonic() < deadline:
        time.sleep(0.2)


# --------------------------------------------------------------------------
# crawl_extract
# --------------------------------------------------------------------------

class CrawlExtract:
    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        from mlscraper_spark.crawl.engine import CrawlConfig
        from mlscraper_spark.crawl.synthweb import WebConfig

        self.spark, self.work, self.tracer = spark, work, tracer
        self.rng = random.Random(seed)
        self.web = WebConfig(n_hosts=HOST_RANGE, max_pages_per_host=40,
                             links_per_page=10)
        self.cfg = CrawlConfig(budget_per_host=BUDGET, n_buckets=N_BUCKETS,
                               seen_compact_every=COMPACT_EVERY)
        self.crawls: list[dict] = []
        self.train_s = 0.0
        self.plan = None

    def prepare(self):
        """Example pages for training: page 0 of hosts the seed draws."""
        from mlscraper_spark.crawl.synthweb import author_for, fetch

        hosts = self.rng.sample(range(self.web.n_hosts), N_EXAMPLES)
        self.examples = [(fetch(f"http://host{i}.test/page/0", self.web)[1],
                          author_for(i, 0)) for i in hosts]

    def _seeds(self) -> list[str]:
        hosts = self.rng.sample(range(self.web.n_hosts), SEED_HOSTS)
        return [f"http://host{i}.test/page/{j}" for i in hosts for j in (0, 1)]

    def train(self) -> list[str]:
        """Train on the example pages; the plan must give back the values
        it was trained on."""
        from mlscraper_spark import api
        from mlscraper_spark.training.scrapers import apply_plan_to_html

        with self.tracer.span("training.train"):
            t0 = time.perf_counter()
            self.plan = api.train_scraper(self.examples, spark=self.spark)
            self.train_s = time.perf_counter() - t0
        wrong = sum(apply_plan_to_html(html, self.plan, strict=False) != value
                    for html, value in self.examples)
        return [f"training: {wrong} of {len(self.examples)} example pages "
                "do not extract their value"] if wrong else []

    def run_op(self):
        """One fused crawl: seed, then CRAWL_EPOCHS epochs, each step a
        ``run_crawl`` call with ``max_epochs`` raised by one (resume-exact)."""
        from mlscraper_spark.crawl.engine import read_fetch_log, run_crawl

        root = os.path.join(self.work, f"crawl{len(self.crawls)}")
        seeds = self._seeds()
        t0 = time.perf_counter()
        with self.tracer.span("crawl", root=root):
            for k in range(CRAWL_EPOCHS + 1):
                with self.tracer.span("crawl.step", max_epochs=k):
                    run_crawl(self.spark, root, seeds, self.web, self.cfg,
                              max_epochs=k, scraper_plan=self.plan,
                              emit_images=True)
        wall = time.perf_counter() - t0
        # counted after the clock stops: reading the log is not crawl work
        n_urls = read_fetch_log(self.spark, root).count()
        self.crawls.append({"root": root, "seeds": seeds, "wall_s": wall,
                            "n_urls": n_urls})

    def payload_rows(self, crawl) -> int:
        from mlscraper_spark.crawl.engine import read_extractions, read_images

        return (read_extractions(self.spark, crawl["root"]).count()
                + read_images(self.spark, crawl["root"]).count())

    def check(self, crawl) -> list[str]:
        """Fetch log, url_seen, extractions and images against the oracle."""
        from pyspark.sql import functions as F

        from mlscraper_spark.crawl.engine import (
            last_complete_epoch, read_extractions, read_fetch_log, read_images,
            read_url_seen,
        )
        from mlscraper_spark.crawl.oracle import crawl_oracle
        from mlscraper_spark.crawl.synthweb import author_for, parse_page_url
        from mlscraper_spark.images.codec import decode, make_image, psnr

        spark, root = self.spark, crawl["root"]
        problems = []
        state = crawl_oracle(crawl["seeds"], self.web, BUDGET, CRAWL_EPOCHS)
        got_log = [
            (r.epoch, r.seq, r.url_canon, r.host, r.status, r.n_links,
             r.n_images)
            for r in read_fetch_log(spark, root).sort("epoch", "seq").collect()
        ]
        want_log = [(r["epoch"], r["seq"], r["url_canon"], r["host"],
                     r["status"], r["n_links"], r["n_images"])
                    for r in state.fetch_log]
        if got_log != want_log:
            problems.append(f"fetch log: {len(got_log)} rows vs oracle "
                            f"{len(want_log)}, or order differs")
        seen = {r.url_canon for r in read_url_seen(
            spark, root, last_complete_epoch(root)).collect()}
        if seen != state.url_seen:
            problems.append(f"url_seen: {len(seen)} vs oracle "
                            f"{len(state.url_seen)}")

        urls = [r["url_canon"] for r in state.fetch_log if r["status"] == 200]
        want_ext, want_img = expected_payload(urls, self.web, self.plan)
        # the plan itself, against values it was not derived from: every
        # page carries the author it was generated with
        wrong = sum(v != author_for(*parse_page_url(u, self.web))
                    for u, v in want_ext.items())
        if wrong:
            problems.append(f"trained plan: {wrong} of {len(want_ext)} "
                            "pages do not extract their author")
        got_ext = {r.url_canon: json.loads(r.value_json)
                   if r.value_json is not None else None
                   for r in read_extractions(spark, root).collect()}
        if got_ext != want_ext:
            bad = sum(got_ext.get(u) != v for u, v in want_ext.items())
            problems.append(f"extractions: {bad} of {len(want_ext)} pages "
                            f"differ, {len(got_ext)} rows")
        got_img = {}
        for r in read_images(spark, root).drop("bytes").collect():
            key = (r.image_id, r.caption, r.w, r.h, r.fmt)
            got_img[key] = got_img.get(key, 0) + 1
        if got_img != want_img:
            problems.append(f"images: {sum(got_img.values())} rows vs "
                            f"{sum(want_img.values())} expected")
        dctq = sorted(k[0] for k in got_img if k[4] == "dctq")
        sample = random.Random(0).sample(dctq, min(PSNR_SAMPLE, len(dctq)))
        for r in (read_images(spark, root)
                  .filter(F.col("image_id").isin(sample)).collect()):
            db = psnr(make_image(r.image_id, r.w, r.h), decode(r.bytes, "dctq"))
            if db < PSNR_MIN_DB:
                problems.append(f"image {r.image_id}: PSNR {db:.1f} dB")
        return problems

    @staticmethod
    def storage(root: str) -> tuple[int, int, int]:
        """(bytes, files, snapshot dirs) under a crawl root."""
        n_bytes = n_files = 0
        for base, _, files in os.walk(root):
            for fn in files:
                n_bytes += os.path.getsize(os.path.join(base, fn))
                n_files += 1
        snaps = sum(d.startswith("snap_") for d in os.listdir(root))
        return n_bytes, n_files, snaps


def expected_payload(urls, web, plan) -> tuple[dict, dict]:
    """Oracle payload of fetched pages: the plan applied to each page
    (``apply_plan_to_html``, the q45 recipe) and the image rows
    ``synthweb.extract_images`` finds, counted by (id, caption, w, h, fmt)."""
    from mlscraper_spark.crawl.synthweb import extract_images, fetch
    from mlscraper_spark.images.ops import default_fmt_policy
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    ext, img = {}, {}
    for url in urls:
        html = fetch(url, web)[1]
        ext[url] = apply_plan_to_html(html, plan, strict=False)
        for im in extract_images(html):
            key = (im["src"], im["caption"], im["w"], im["h"],
                   default_fmt_policy(im["src"], im["w"], im["h"]))
            img[key] = img.get(key, 0) + 1
    return ext, img


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

class Queries:
    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.seed = seed
        self.data_dir = os.path.join(work, "tables")
        self.times: dict[str, list] = {q: [] for q in HEADLINE}
        self.passes = 0

    def prepare(self):
        write_tables(self.data_dir, self.seed)

    def run_op(self):
        """One pass over the headline queries in the seed's order, each
        from cold caches: registry call, then a noop write."""
        from mlscraper_spark.caches import release_caches
        from mlscraper_spark.queries import QUERIES

        with self.tracer.span("queries.pass"):
            for name in self.order:
                release_caches()
                self.spark.catalog.clearCache()
                with self.tracer.span("queries.query", query=name):
                    with self.tracer.span("queries.build"):
                        t0 = time.perf_counter()
                        df = QUERIES[name](self.spark, self.data_dir)
                        t1 = time.perf_counter()
                    with self.tracer.span("queries.exec"):
                        df.write.mode("overwrite").format("noop").save()
                        t2 = time.perf_counter()
                self.times[name].append((t1 - t0, t2 - t1))
        self.passes += 1

    def check(self) -> dict[str, list[str]]:
        """Rows of each query against its DuckDB oracle, hex-exact floats
        (``scripts/parity_check.py``'s comparison).  Runs before the timed
        passes, so it also compiles every plan and starts the Python workers;
        the queries run concurrently here, which only this untimed pass
        allows, to keep the run short."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        from mlscraper_spark.queries import ORACLE_SQL, QUERIES

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from parity_check import _norm

        def spark_rows(name):
            df = QUERIES[name](self.spark, self.data_dir)
            cols = sorted(df.columns)
            return cols, sorted(tuple(_norm(r[c]) for c in cols)
                                for r in df.collect())

        con = duckdb.connect()
        try:
            for t in ("lineitem", "orders", "documents", "embeddings"):
                p = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            with ThreadPoolExecutor(max_workers=len(self.order)) as pool:
                futs = {q: pool.submit(spark_rows, q) for q in self.order}
                out = {}
                for name in self.order:
                    res = con.execute(ORACLE_SQL[name])
                    raw = [d[0] for d in res.description]
                    ocols = sorted(raw)
                    orows = sorted(tuple(_norm(r[raw.index(c)]) for c in ocols)
                                   for r in res.fetchall())
                    problems = []
                    try:
                        scols, srows = futs[name].result()
                    except Exception:  # noqa: BLE001 - a failed query is counted
                        problems.append(traceback.format_exc(limit=3))
                        out[name] = problems
                        continue
                    if scols != ocols:
                        problems.append(f"schema {scols} vs {ocols}")
                    if srows != orows:
                        problems.append(f"rows: spark {len(srows)} vs "
                                        f"oracle {len(orows)} or values differ")
                    if not srows:
                        problems.append("no rows")
                    out[name] = problems
            return out
        finally:
            con.close()


# --------------------------------------------------------------------------
# hot loops, timed driver-side on a sample of the workload's own inputs
# --------------------------------------------------------------------------

def _us_per(fn, items, reps: int = 3) -> float:
    """Median over ``reps`` of the microseconds per item of ``fn(items)``."""
    if len(items) == 0:
        return 0.0
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(items)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e6 / len(items)


def crawl_hot_loops(wl: CrawlExtract) -> dict[str, float]:
    import numpy as np
    import pandas as pd

    from mlscraper_spark.crawl.cuckoo import CuckooFilter
    from mlscraper_spark.crawl.engine import (
        last_complete_epoch, read_fetch_log, read_url_seen,
    )
    from mlscraper_spark.crawl.fetchers import SynthWebAdapter
    from mlscraper_spark.crawl.synthweb import extract_images, fetch
    from mlscraper_spark.crawl.urlnorm import canonicalize_series, url_hash
    from mlscraper_spark.dom.parser import parse_html
    from mlscraper_spark.images.codec import decode, encode, make_image, phash
    from mlscraper_spark.images.ops import default_fmt_policy
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    crawl = wl.crawls[0]
    rng = random.Random(0)
    urls = [r.url_canon for r in read_fetch_log(wl.spark, crawl["root"])
            .select("url_canon").collect()]
    urls = rng.sample(urls, min(HOT_SAMPLE, len(urls)))
    adapter = SynthWebAdapter(wl.web)
    pages = [(u, *fetch(u, wl.web)) for u in urls]
    ok = [html for _, status, html in pages if status == 200]
    links = [ln for u, status, html in pages
             for ln in adapter.response_meta(u, status, html)[0]]
    out = {
        "fetch.us_per_url": _us_per(
            lambda xs: [fetch(u, wl.web) for u in xs], urls),
        "fetchers.link_scan_us_per_page": _us_per(
            lambda xs: [adapter.response_meta(u, s, h) for u, s, h in xs],
            pages),
        "urlnorm.canonicalize_us_per_url": _us_per(
            lambda xs: canonicalize_series(pd.Series(xs)), links),
        "parser.parse_us_per_page": _us_per(
            lambda xs: [parse_html(h) for h in xs], ok),
        "training.apply_us_per_page": _us_per(
            lambda xs: [apply_plan_to_html(h, wl.plan, strict=False)
                        for h in xs], ok),
    }
    seen = [r.url_canon for r in read_url_seen(
        wl.spark, crawl["root"], last_complete_epoch(crawl["root"])).collect()]
    seen_h = np.array([url_hash(u) for u in seen], dtype=np.int64)
    canon = canonicalize_series(pd.Series(links))["url_canon"].dropna()
    cand_h = np.array([url_hash(u) for u in canon], dtype=np.int64)

    def _insert(hs):
        CuckooFilter(wl.cfg.filter_buckets).insert_many(hs)

    filt = CuckooFilter(wl.cfg.filter_buckets)
    filt.insert_many(seen_h)
    out["cuckoo.insert_us_per_key"] = _us_per(_insert, seen_h)
    out["cuckoo.probe_us_per_key"] = _us_per(filt.contains_many, cand_h)
    out["cuckoo.maybe_seen_ratio"] = (
        float(np.mean(filt.contains_many(cand_h))) if len(cand_h) else 0.0)

    images = {"ppm": [], "dctq": []}
    for html in ok:
        for im in extract_images(html):
            fmt = default_fmt_policy(im["src"], im["w"], im["h"])
            images[fmt].append(make_image(im["src"], im["w"], im["h"]))
    for fmt, imgs in images.items():
        blobs = [encode(im, fmt) for im in imgs]
        decoded = [decode(b, fmt) for b in blobs]
        out[f"codec.{fmt}.encode_us_per_image"] = _us_per(
            lambda xs: [encode(im, fmt) for im in xs], imgs)
        out[f"codec.{fmt}.decode_us_per_image"] = _us_per(
            lambda xs: [decode(b, fmt) for b in xs], blobs)
        out[f"codec.{fmt}.phash_us_per_image"] = _us_per(
            lambda xs: [phash(im) for im in xs], decoded)
    return out


def query_hot_loops(wl: Queries) -> dict[str, float]:
    """q23/q24 parse the documents as HTML pages; time the parser and the
    q23 plan on the same page shape, built driver-side from the table."""
    import pyarrow.parquet as pq

    from mlscraper_spark.dom.parser import parse_html
    from mlscraper_spark.queries import _PAGE_HTML
    from mlscraper_spark.training.scrapers import (
        apply_plan_to_html, css_selector, dict_plan, value_plan,
    )

    docs = pq.read_table(os.path.join(wl.data_dir, "documents.parquet"),
                         columns=["text", "source"]).slice(0, HOT_SAMPLE)
    pages = [(_PAGE_HTML[0] + s + _PAGE_HTML[1] + t + _PAGE_HTML[2]).encode()
             for t, s in zip(docs.column("text").to_pylist(),
                             docs.column("source").to_pylist())]
    plan = dict_plan({"title": value_plan(css_selector(".title"),
                                          {"kind": "text"})})
    return {
        "parser.parse_us_per_page": _us_per(
            lambda xs: [parse_html(h) for h in xs], pages),
        "training.apply_us_per_page": _us_per(
            lambda xs: [apply_plan_to_html(h, plan, strict=False)
                        for h in xs], pages),
    }


# --------------------------------------------------------------------------
# per-layer rollup of a traced run
# --------------------------------------------------------------------------

SPARK_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "task_failures")


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, event_log: str, n_ops: int) -> dict:
    log = parse_event_log(event_log)
    spans = [Span(s["id"], s["name"], s["start_ms"], s["end_ms"], s["parent"])
             for s in tracer.spans]
    by_id = {s.span_id: s for s in spans}
    owned = assign_jobs(spans, log.jobs.values())

    def under(span, name):  # is ``span`` inside a span called ``name``?
        while span.parent is not None:
            span = by_id[span.parent]
            if span.name == name:
                return True
        return False

    def subtree_jobs(span):
        out = list(owned[span.span_id])
        for s in spans:
            if s.parent == span.span_id:
                out += subtree_jobs(s)
        return out

    def dur(span):
        return (span.end_ms - span.start_ms) / 1e3

    m: dict[str, float] = {}
    measured = [s for s in spans if s.name in ("crawl", "queries.pass")]
    tot = job_totals(log, [j for s in measured for j in subtree_jobs(s)])
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = tot[k] / max(n_ops, 1)

    per_epoch = [epoch_breakdown(log, s, subtree_jobs(s)) for s in spans
                 if s.name == "engine.epoch" and under(s, "crawl")]
    m["engine.seed_s"] = _median([dur(s) for s in spans
                                  if s.name == "engine.seed" and under(s, "crawl")])
    for key, name in (("epoch_s", "epoch_s"), ("driver_s", "epoch_driver_s"),
                      ("jobs", "jobs_per_epoch"), ("stages", "stages_per_epoch"),
                      ("tasks", "tasks_per_epoch"), ("select_s", "select_s"),
                      ("delta_s", "delta_s"), ("write_s", "write_s")):
        m[f"engine.{name}"] = _median([e[key] for e in per_epoch])
    m["engine.payload_s"] = _median([dur(s) for s in spans
                                     if s.name == "engine.payload"
                                     and under(s, "crawl")])

    for q in HEADLINE:
        runs = [s for s in spans if s.name == "queries.query"
                and under(s, "queries.pass") and tracer.spans[s.span_id]["query"] == q]
        rows = []
        for s in runs:
            kids = [k for k in spans if k.parent == s.span_id]
            build = [k for k in kids if k.name == "queries.build"]
            run = [k for k in kids if k.name == "queries.exec"]
            t = job_totals(log, subtree_jobs(s))
            rows.append({
                "build_s": sum(dur(k) for k in build),
                "exec_s": sum(dur(k) for k in run),
                "jobs": t["jobs"], "stages": t["stages"], "tasks": t["tasks"],
                "shuffle_mb": t["shuffle_write_mb"],
                "executor_run_s": t["executor_run_s"],
            })
        for key in ("build_s", "exec_s", "jobs", "stages", "tasks",
                    "shuffle_mb", "executor_run_s"):
            m[f"queries.{q[:3]}.{key}"] = _median([r[key] for r in rows])
    return m


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def _timed_loop(seconds: float, run_op) -> int:
    """Closed loop, one operation in flight: operations run back to back
    until ``seconds`` have passed; an operation is never cut short."""
    t_start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - t_start < seconds:
        run_op()
        n += 1
    return n


def run(args, spec: dict, work: str, out_dir: str) -> tuple[dict, dict]:
    trace = bool(args.trace)
    env = pin_environment(work, trace)
    tracer = Tracer(trace, f"{args.workload}-seed{args.seed}")
    rss = RssSampler()
    rss.start()
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, **env}
    attempted = failed = 0
    problems: list[str] = []
    layer: dict[str, float] = {}
    spark = None
    setup_s = work_per_s = 0.0
    n_ops = 0
    try:
        t_setup = time.perf_counter()
        spark, layer["session.start_s"] = start_session(tracer)
        if args.workload == "crawl_extract":
            from mlscraper_spark.crawl import engine

            wl = CrawlExtract(spark, args.seed, work, tracer)
            for attr, name in (("seed_crawl", "engine.seed"),
                               ("run_epoch", "engine.epoch"),
                               ("_run_payload_stages", "engine.payload")):
                tracer.wrap(engine, attr, name)
        else:
            wl = Queries(spark, args.seed, work, tracer)
        with tracer.span("prepare"):
            wl.prepare()
        setup_s = time.perf_counter() - t_setup

        if args.workload == "crawl_extract":
            attempted += 1
            bad = wl.train()
            if bad:
                failed += 1
                problems += bad
            n_ops = _timed_loop(args.seconds, wl.run_op)
            attempted += n_ops
            n_urls = sum(c["n_urls"] for c in wl.crawls)
            crawl_wall = sum(c["wall_s"] for c in wl.crawls)
            work_per_s = n_urls / crawl_wall
            rows = sum(wl.payload_rows(c) for c in wl.crawls)
            t_check = time.perf_counter()
            with tracer.span("check"):
                for c in wl.crawls:
                    bad = wl.check(c)
                    if bad:
                        failed += 1
                        problems += bad
            n_bytes = n_files = snaps = 0
            for c in wl.crawls:
                b, f, s = wl.storage(c["root"])
                n_bytes, n_files, snaps = n_bytes + b, n_files + f, snaps + s
            report.update({
                "crawls": len(wl.crawls), "urls": n_urls,
                "crawl_wall_s": [round(c["wall_s"], 3) for c in wl.crawls],
                "crawl_urls_per_s": work_per_s,
                "extract_rows_per_s": rows / crawl_wall,
                "train_s": wl.train_s,
                "check_s": time.perf_counter() - t_check,
            })
            layer.update({
                "training.train_s": wl.train_s,
                "tables.bytes_per_url": n_bytes / max(n_urls, 1),
                "tables.files_per_epoch": n_files / (len(wl.crawls) * CRAWL_EPOCHS),
                "tables.snapshot_dirs": snaps / len(wl.crawls),
                "engine.urls_per_epoch": n_urls / (len(wl.crawls) * CRAWL_EPOCHS),
            })
            if trace:
                layer.update(crawl_hot_loops(wl))
        else:
            t_check = time.perf_counter()
            with tracer.span("check"):
                checks = wl.check()
            check_s = time.perf_counter() - t_check
            n_ops = _timed_loop(args.seconds, wl.run_op)
            for name, bad in checks.items():
                attempted += len(wl.times[name]) + 1
                if bad:
                    failed += len(wl.times[name]) + 1
                    problems += [f"{name}: {b}" for b in bad]
            medians = {q: _median([b + r for b, r in wl.times[q]])
                       for q in HEADLINE}
            total = sum(medians.values())
            work_per_s = len(HEADLINE) / total
            report.update({"passes": wl.passes, "check_s": check_s,
                           "query_total_s": total,
                           **{f"{q[:3]}_s": v for q, v in medians.items()}})
            if trace:
                layer.update(query_hot_loops(wl))
    except Exception:  # noqa: BLE001 - the run reports, then exits non-zero
        attempted = max(attempted, 1)
        failed += 1
        problems.append(traceback.format_exc())
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)
    report["loadavg_end"] = _loadavg()
    report["problems"] = problems

    e2e = {"setup_s": setup_s, "work_per_s": work_per_s}
    # peak RSS swings by more than a tenth between runs (JVM heap growth),
    # so it is a per-layer figure, not an end-to-end one
    layer["session.peak_rss_mb"] = rss.peak_bytes / 2**20
    report["end_to_end"] = e2e
    # work_per_s is one figure over every timed operation of the run
    report["samples"] = {"setup_s": 1, "work_per_s": n_ops}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed}
    if trace:
        ev_dir = os.path.join(work, "eventlog")
        logs = sorted(os.listdir(ev_dir))
        if n_ops and logs:
            layer.update(layer_metrics(tracer, os.path.join(ev_dir, logs[-1]),
                                       n_ops))
        layer["trace.work_per_s"] = work_per_s
        tracer.write(os.path.join(out_dir, f"{tracer.run_id}-spans.jsonl"))
        result["metrics"] = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                                         "unit": m["unit"]}
                             for m in spec["per_layer"]}
    else:
        result["metrics"] = {m["name"]: {"value": float(e2e[m["name"]]),
                                         "unit": m["unit"]}
                             for m in spec["end_to_end"]}
    report["per_layer"] = layer
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("SPARK_GRAFT_TRACE"):
        print("SPARK_GRAFT_TRACE is set: it adds Spark actions to the plans "
              "measured; unset it", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "mlscraper_spark")):
        print(f"no mlscraper_spark package under {ROOT}: run from a full "
              "checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        report, result = run(args, spec, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                            "-trace0.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]["work_per_s"]
        report["tracing_overhead_work_per_s"] = (
            base - report["per_layer"]["trace.work_per_s"])
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({**report, "result": result}, f, indent=1, default=str)
    for key, val in report.items():
        if key not in ("per_layer", "end_to_end", "samples", "problems"):
            print(f"{key}: {val}")
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    for name, val in report["end_to_end"].items():
        print(f"e2e {name}: {val:.6g} {units[name]} "
              f"(operations: {report['samples'][name]})")
    for name, val in sorted(report["per_layer"].items()):
        print(f"layer {name}: {val:.6g} {units.get(name, '')}")
    for p in report["problems"]:
        print(f"CHECK FAILED: {p}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
