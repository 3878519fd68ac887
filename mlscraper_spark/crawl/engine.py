"""The distributed crawl engine: epoch-synchronous BSP loop on DataFrames.

New build per BASELINE.json north_rule — frontier + fetch scheduler with
politeness token buckets, robots cache, partitioned cuckoo URL-seen filter,
priority-queue semantics — matching the sequential oracle (crawl/oracle.py)
bit-for-bit on fetch order and the final URL-seen set.

Design (SURVEY.md §7.4), round-2 architecture:

* **State lives in epoch snapshots on disk** behind the ``TableFormat``
  seam (``mlscraper_spark/tables.py``: Iceberg when the runtime jar is
  present, parquet dirs + JSON manifest otherwise).  Each epoch reads only
  the previous snapshot, so kill-and-resume is free and exact (tested).
  The seed, every epoch and the final empty epoch commit through one
  function, ``_commit_snapshot``: all tables first, the manifest last.
* **Frontier is a bucket-manifested table**: rows are bucketed by
  ``host_bucket``; the epoch manifest maps each bucket to the snapshot
  that last rewrote it (``frontier_refs``).  An epoch rewrites ONLY the
  dirty buckets (those with fetched rows or vetted discoveries); clean
  buckets carry forward by manifest reference with zero I/O and zero
  shuffle — the Iceberg snapshot/manifest pattern.  A ref chain longer
  than ``max_ref_span`` snapshots triggers a full compaction rewrite.
* **Politeness** (T6) is a two-phase top-k: phase 1 computes per-host
  top-budget *within each scan partition* in one Arrow stage (no
  Exchange over the frontier — provably a superset of the global answer
  for any partition layout); phase 2 is an exact window top-k over the
  small phase-1 output.  The frontier is never shuffled whole.
* **Global fetch order**: ``seq`` via a deterministic static partition id
  ``depth * K + hash_range_bucket(url_hash)`` (url_hash is xxhash64 —
  uniform, so static equal-width ranges balance), local rank per pid, and
  per-pid offsets joined back broadcast.  No RangePartitioner sampling →
  no lineage-cut checkpoint needed; recomputation is bit-stable.
* **URL-seen** (P10): per-host_bucket cuckoo filters split *discovery
  deltas* (never the whole frontier — rows already in the frontier are
  unseen by construction) into "definitely new" (skip the join) and
  "maybe seen" (exact anti-join against url_seen — the ground truth, so
  filter false positives cost time, never correctness).
* **Skew**: everything keyed by ``host_bucket = pmod(xxhash64(host),
  NB)``; AQE skew-join handles residual imbalance.
* **Frontier merge**: per URL keep (MIN depth, MIN discovered_epoch) —
  associative and commutative, so any partitioning yields the oracle's
  result; applied only to dirty buckets.

* **One Python pass per fetched page**: the Arrow fetch stage fetches,
  scans and canonicalizes links (one vectorized call per Arrow batch)
  and, when the crawl carries a plan or emits images, parses the page
  once for its payload.  The payload tables commit with the epoch's
  snapshot, before its manifest.

Hashing/bucketing/priority/ordering are JVM expressions; fetch + parse +
canonicalize, seed canonicalization and politeness phase 1 run in
Arrow-batched UDFs with pandas-vectorized inner loops.
"""
from __future__ import annotations

import json
import os
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlscraper_spark.crawl.fetchers import SynthWebAdapter
from mlscraper_spark.crawl.synthweb import WebConfig
from mlscraper_spark.tables import get_table_format

FRONTIER_SCHEMA = (
    "url_canon string, url_hash long, host string, host_bucket int, "
    "priority double, depth int, discovered_epoch int"
)
SEEN_SCHEMA = "url_canon string, url_hash long, host_bucket int, seen_epoch int"
FETCHLOG_SCHEMA = (
    "epoch int, seq int, url_canon string, host string, status int, "
    "n_links int, n_images int, page_fp long"
)
FILTERS_SCHEMA = "host_bucket int, blob binary, fingerprint string"
ROBOTS_SCHEMA = "host string, rules_json string, fetched_epoch int"
# tokens AFTER an epoch's consumption, BEFORE the next refill; hosts whose
# next avail is back at capacity are absent (the table self-garbage-collects)
HOST_TOKENS_SCHEMA = "host string, tokens int"


@dataclass(frozen=True)
class CrawlConfig:
    budget_per_host: int = 2  # politeness REFILL: tokens a host gains per epoch
    tokens_capacity: int | None = None  # politeness token-bucket CAPACITY:
    # a host idle long enough accrues up to this many tokens and may burst
    # them in one epoch (north_star: per-host politeness token buckets).
    # None = budget_per_host, the degenerate fixed-budget bucket — that
    # path keeps zero extra state and zero extra jobs per epoch.
    n_buckets: int = 8
    filter_buckets: int = 1 << 16  # cuckoo table size per host_bucket:
    # capacity ≈ filter_buckets × 4 slots (≈ 262k URLs/bucket, 512 KiB
    # blob).  Size it to the expected per-bucket URL count — a saturated
    # filter stays CORRECT (degrades to exact anti-joins for everything)
    # but loses the fast path, so at 10^10 URLs / 4096 buckets you'd run
    # 1 << 20 (8 MiB/bucket).  Changing this across a resume is rejected
    # (the blob header carries its geometry).
    max_ref_span: int = 8  # frontier refs may span at most this many
    # snapshots before a full compaction rewrite (bounds manifest-chain
    # length and lets old snapshots expire — Iceberg snapshot-expiry
    # analog)
    max_depth: int | None = None  # crawler-trap guard: drop discoveries
    # deeper than this many link hops from a seed.  Infinite URL spaces
    # (calendar pages, session-id permutations) otherwise grow the
    # frontier without bound; depth is the standard budget that caps any
    # trap's yield at branching^max_depth.  None = unbounded (the
    # reference-oracle default).
    max_url_len: int | None = None  # trap guard: drop URLs longer than
    # this many canonicalized characters — repeated-path-segment traps
    # (/a/a/a/...) grow the URL every hop, so a length cap cuts the cycle
    # even when depth alone would admit it.  None = unbounded.
    seen_compact_every: int = 16  # every K epochs the url_seen deltas are
    # compacted into a full url_seen_base table in that snapshot, so the
    # per-epoch read unions ≤ K deltas + 1 base instead of the crawl's
    # whole history (10^4-epoch crawls would otherwise pay a
    # linearly-growing listing + tiny-file scan every epoch)


def _snap_dir(root: str, epoch: int) -> str:
    # snapshot AFTER epoch e; e = -1 is the seeded initial state
    return os.path.join(root, f"snap_{epoch + 1:05d}")


def _manifest_path(root: str, epoch: int) -> str:
    return os.path.join(_snap_dir(root, epoch), "_manifest.json")


_SNAP_RE = re.compile(r"^snap_(\d{5})$")


def last_complete_epoch(root: str) -> int | None:
    """Largest epoch with a complete snapshot, or None (no seed yet).

    Only strictly-conforming ``snap_NNNNN`` names count — stray entries
    (``snap_tmp``, editor leftovers) are skipped, not a resume-breaking
    ValueError."""
    best = None
    if not os.path.isdir(root):
        return None
    for name in os.listdir(root):
        m = _SNAP_RE.match(name)
        if m:
            e = int(m.group(1)) - 1
            if os.path.exists(_manifest_path(root, e)):
                best = e if best is None else max(best, e)
    return best


def _read_manifest(root: str, epoch: int) -> dict:
    with open(_manifest_path(root, epoch)) as f:
        return json.load(f)


def _frontier_refs(root: str, epoch: int) -> dict[int, int]:
    """bucket → epoch whose snapshot's frontier table holds its rows.

    A manifest WITHOUT the key predates the bucket-manifest format; fail
    loudly rather than read an empty frontier and silently report the
    crawl finished (an empty dict, by contrast, is a legitimately empty
    frontier)."""
    m = _read_manifest(root, epoch)
    if "frontier_refs" not in m:
        raise RuntimeError(
            f"snapshot {_snap_dir(root, epoch)} predates the bucket-manifest "
            "frontier format (no 'frontier_refs' in manifest); this crawl "
            "root cannot be resumed by this engine version — restart it"
        )
    return {int(k): int(v) for k, v in m["frontier_refs"].items()}


def read_frontier(spark: SparkSession, root: str, epoch: int,
                  buckets: list[int] | None = None) -> DataFrame:
    """Assemble the frontier at a snapshot from its bucket refs.

    ``buckets`` restricts the read to those host_buckets (the dirty set of
    a delta merge); file-level min/max stats on host_bucket prune the scan
    because each snapshot's frontier files are written repartitioned by
    bucket."""
    fmt = get_table_format(spark)
    refs = _frontier_refs(root, epoch)
    if buckets is not None:
        refs = {b: e for b, e in refs.items() if b in set(buckets)}
    by_epoch: dict[int, list[int]] = {}
    for b, e in refs.items():
        by_epoch.setdefault(e, []).append(b)
    parts = []
    for e, bs in sorted(by_epoch.items()):
        scan = fmt.read(
            spark, [os.path.join(_snap_dir(root, e), "frontier")],
            FRONTIER_SCHEMA,
        )
        parts.append(scan.filter(F.col("host_bucket").isin(bs)))
    if not parts:
        return spark.createDataFrame([], FRONTIER_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _with_host_bucket(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    return df.withColumn(
        "host_bucket", F.pmod(F.xxhash64("host"), F.lit(cfg.n_buckets)).cast("int")
    )


def _priority_col():
    """priority = 1/(1+depth) — shared by seed, discovery and merge."""
    return F.lit(1.0) / (1.0 + F.col("depth"))


def _trap_filter(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Crawler-trap guard over (depth, url_canon) rows — applied to seeds
    and to every discovery delta BEFORE robots resolution (a trapped URL
    must not trigger a robots fetch for its host; the oracle checks in
    the same order).  Pure JVM predicates, pushed into the scan."""
    if cfg.max_depth is not None:
        df = df.filter(F.col("depth") <= cfg.max_depth)
    if cfg.max_url_len is not None:
        df = df.filter(F.length("url_canon") <= cfg.max_url_len)
    return df


# the columns that identify a frontier row (everything but the derived
# priority); url_hash/host/host_bucket are functions of url_canon, so any
# F.first over same-url duplicates is deterministic
_IDENTITY_COLS = (
    "url_canon", "url_hash", "host", "host_bucket", "depth", "discovered_epoch",
)


def canonicalize_frame(df: DataFrame, raw_col: str) -> DataFrame:
    """Append (url_canon, host, path) for ``raw_col`` through
    ``urlnorm.canonicalize_series`` in one Arrow UDF — the canonicalizer
    the fetch stage applies to discovered links, here over seeds, so list
    and DataFrame seeds and discoveries share one implementation.  A NULL
    row yields NULL columns (``canonicalize_series`` alone would
    stringify it to 'http://None'); an unparseable URL yields a NULL
    url_canon, which callers drop."""

    @F.pandas_udf("struct<url_canon:string,host:string,path:string>")
    def _canon(raw: pd.Series) -> pd.DataFrame:
        from mlscraper_spark.crawl.urlnorm import canonicalize_series

        out = pd.DataFrame(
            {"url_canon": None, "host": None, "path": None},
            index=raw.index, dtype=object,
        )
        mask = raw.notna()
        if mask.any():
            out.loc[mask, ["url_canon", "host", "path"]] = (
                canonicalize_series(raw[mask]).to_numpy()
            )
        return out

    c = _canon(F.col(raw_col))
    return df.withColumns({k: c[k] for k in ("url_canon", "host", "path")})


def _frontier_layout(df: DataFrame, n_buckets: int) -> DataFrame:
    """Frontier files are repartitioned by host_bucket (one bucket never
    spans tasks → tight file stats for bucket-pruned reads) and sorted by
    the politeness order within partitions so phase-1 top-k scans
    pre-sorted runs."""
    return df.repartition(n_buckets, "host_bucket").sortWithinPartitions(
        "host", F.desc("priority"), F.asc("url_hash"), F.asc("url_canon")
    )


def _commit_snapshot(spark: SparkSession, root: str, epoch: int,
                     tables: dict, manifest: dict) -> None:
    """Commit the snapshot after ``epoch`` — the one commit path of the
    seed, every epoch and the final empty epoch.

    ``tables`` maps a table name to a DataFrame, written as concurrent
    Spark jobs (one writer thread each), or to a schema string, a
    zero-row table committed through the seam's ``write_empty`` (the
    parquet variant does it driver-side: no Spark job, where a zero-row
    job costs ~0.5 s of pure scheduling).  ``_manifest.json`` — ``epoch``
    plus ``manifest`` — is written last, only after every table commit
    succeeded: it is the atomic completion marker, so a failure or a kill
    anywhere before it leaves an incomplete snapshot that resume redoes."""
    fmt = get_table_format(spark)
    d = _snap_dir(root, epoch)
    frames = {n: t for n, t in tables.items() if isinstance(t, DataFrame)}
    with ThreadPoolExecutor(max_workers=max(1, len(frames))) as pool:
        futs = [pool.submit(fmt.write, df, os.path.join(d, name))
                for name, df in frames.items()]
        for name, schema in tables.items():
            if name not in frames:
                fmt.write_empty(spark, os.path.join(d, name), schema)
        for fut in futs:
            fut.result()  # propagate failures before the manifest exists
    with open(_manifest_path(root, epoch), "w") as f:
        json.dump({"epoch": epoch, **manifest}, f)


def _admit(spark: SparkSession, df: DataFrame, robots: DataFrame | None,
           robots_epoch: int, cfg: CrawlConfig,
           adapter) -> tuple[DataFrame, DataFrame]:
    """Admission of candidate (depth, url_canon, host, path) rows — seeds
    and every discovery delta — in the oracle's order: the trap guard
    first (a trapped URL must not trigger a robots fetch for its host),
    then robots rules resolved for the hosts not already in ``robots``
    (None: none resolved yet) and recorded as fetched at
    ``robots_epoch``, then the robots filter, then ``host_bucket`` and
    ``url_hash``.  Returns ``(admitted, robots_new)``; ``robots_new`` is
    cached — it feeds the filter and the snapshot's ``robots_delta`` —
    and the caller unpersists it."""
    df = _trap_filter(df, cfg)
    hosts = df.select("host")
    if robots is not None:
        hosts = hosts.join(robots.select("host"), "host", "left_anti")
    robots_new = _robots_rules_df(spark, hosts, robots_epoch, adapter).cache()
    known = robots_new if robots is None else robots.unionByName(robots_new)
    admitted = _with_host_bucket(_filter_robots(df, known, adapter), cfg)
    return admitted.withColumn("url_hash", F.xxhash64("url_canon")), robots_new


def seed_crawl(spark: SparkSession, root: str, seeds, web: WebConfig,
               cfg: CrawlConfig, fetch_adapter=None) -> None:
    """Write the epoch=-1 snapshot: seeded frontier, empty everything else.
    ``fetch_adapter`` supplies robots resolution for the seed hosts (same
    seam as the epoch loop's fetch stage).

    ``seeds`` is either a ``list[str]`` (small, driver-resident — tests and
    interactive use) or a single-string-column ``DataFrame`` (the scale
    path: a 100 TB deployment's seed list lives in storage or is generated
    distributedly, never materialized on the driver.  A driver list is
    embedded into every task binary — ~8 MB at 1.2M seeds, a driver cost
    that does not shrink with more cores)."""
    adapter = fetch_adapter or SynthWebAdapter(web)
    if isinstance(seeds, DataFrame):
        raw = seeds.select(F.col(seeds.columns[0]).cast("string").alias("raw"))
    else:
        # Arrow path (one pandas column), not createDataFrame(list-of-tuples):
        # row-by-row conversion serializes the whole seed list on the DRIVER,
        # a cost that does not shrink with more cores and at 300k-1.2M seeds
        # dominates the seed snapshot.
        # explicit schema: an empty seed list otherwise breaks inference
        # (pandas object column with no rows → "can not infer schema")
        raw = spark.createDataFrame(pd.DataFrame({"raw": seeds}),
                                    schema="raw string")
    # cache: the canonicalized seed set feeds BOTH the robots host scan and
    # the frontier build — uncached, the canonicalize UDF re-runs for every
    # consumer (measured 3× on the seed path).  The null filter sits above
    # the cache so it tests the stored column instead of the UDF output.
    c_cached = canonicalize_frame(raw, "raw").select(
        "url_canon", "host", "path"
    ).cache()
    c = c_cached.filter(
        F.col("url_canon").isNotNull()  # same policy as discoveries: an
        # unparseable seed is dropped (oracle does the same), never a
        # phantom null-host frontier row
    )
    admitted, robots = _admit(spark, c.withColumn("depth", F.lit(0)), None,
                              0, cfg, adapter)
    frontier = (
        admitted.withColumn("discovered_epoch", F.lit(0))
        .withColumn("priority", _priority_col())
        .select(
            "url_canon", "url_hash", "host", "host_bucket",
            "priority", "depth", "discovered_epoch",
        )
        .dropDuplicates(["url_canon"])
        .cache()
    )
    bucket_rows = frontier.groupBy("host_bucket").count().collect()
    buckets = sorted(r.host_bucket for r in bucket_rows)
    # manifest count = the seeded FRONTIER (canonicalized, deduped,
    # robots-filtered) for BOTH seed sources — it falls out of the bucket
    # collect above, so neither path costs an extra action.  (Recording the
    # raw pre-filter list length for the list path, as earlier rounds did,
    # made the same crawl seeded two ways write different manifests.)
    n_seeds = sum(r["count"] for r in bucket_rows)
    _commit_snapshot(
        spark, root, -1,
        {
            "frontier": _frontier_layout(frontier, cfg.n_buckets),
            "robots_delta": robots,
            "url_seen_delta": SEEN_SCHEMA,
            "filters": FILTERS_SCHEMA,
        },
        {"seeds": n_seeds, "frontier_refs": {str(b): -1 for b in buckets}},
    )
    frontier.unpersist()
    c_cached.unpersist()
    robots.unpersist()


def _robots_rules_df(spark: SparkSession, hosts_df: DataFrame, epoch: int,
                     adapter) -> DataFrame:
    """S6/J8 robots cache rows for the given hosts.  Rules come from the
    fetch adapter's ``robots(host)`` (crawl/fetchers.FetchAdapter) — the
    synthetic web's pure-function rules by default, a real
    ``GET /robots.txt`` under HttpFetchAdapter — so a deployed crawl obeys
    the robots of the web it actually fetches from, through the same seam
    as fetch itself.  When the adapter provides ``robots_col`` (a Catalyst
    expression equal to its python rules — the synthetic web's are a pure
    function of the host), the whole stage is JVM codegen; otherwise the
    adapter is pickled into python workers, one robots resolution per NEW
    host per crawl (callers pass only never-seen-before hosts)."""
    hosts = hosts_df.select("host").distinct()
    # getattr: duck-typed test fakes need not implement the optional method
    col = getattr(adapter, "robots_col", lambda c: None)(F.col("host"))
    if col is not None:
        return hosts.select(
            "host", col.alias("rules_json"),
            F.lit(epoch).cast("int").alias("fetched_epoch"),
        )

    def _rules(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "host": pdf["host"],
                    "rules_json": pdf["host"].map(
                        lambda h: json.dumps(adapter.robots(h))
                    ),
                    "fetched_epoch": epoch,
                }
            )

    return hosts.mapInPandas(_rules, ROBOTS_SCHEMA)


def _filter_robots(df: DataFrame, robots: DataFrame,
                   adapter=None) -> DataFrame:
    """Drop rows ``fetchers.robots_blocked`` blocks: RFC 9309 longest-match
    over ``+``-encoded Allow / plain Disallow prefixes (J8).

    Two plans, same semantics: when the adapter supplies
    ``robots_blocked_col`` (rules a pure function of the host), the filter
    is a single codegen predicate — no join, no broadcast build, nothing
    serial on the driver.  Otherwise a broadcast join against the resolved
    rules table; pure-function rules make the two identical because every
    table row was itself produced by the adapter."""
    # ``df`` carries the ``path`` column the canonicalizer computed (seeds
    # and discoveries both keep it; pinned equal to urlsplit().path by
    # tests/test_urlnorm.py).  coalesce: a NULL path would nullify the
    # rule match and silently drop the row, where the oracle tests ''
    path_expr = F.coalesce(F.col("path"), F.lit(""))
    blocked_col = (
        getattr(adapter, "robots_blocked_col", lambda h, p: None)(
            F.col("host"), path_expr
        )
        if adapter is not None
        else None
    )
    if blocked_col is not None:
        return df.filter(~blocked_col)
    with_path = df.withColumn("path", path_expr)
    # broadcast only hosts with NON-EMPTY rules: a host absent from the
    # build side left-joins to null → rules [] → not blocked, exactly the
    # empty-rules outcome — and most hosts have no rules, so the broadcast
    # build (a serial driver-side collect) shrinks several-fold
    rules_nonempty = robots.select("host", "rules_json").filter(
        ~F.col("rules_json").isin("[]", "")
    )
    joined = with_path.join(F.broadcast(rules_nonempty), "host", "left")
    rules = F.from_json(F.coalesce(F.col("rules_json"), F.lit("[]")), "array<string>")
    # RFC 9309 longest-match, the JVM mirror of fetchers.robots_blocked:
    # longest matching Disallow must strictly beat the longest matching
    # Allow ('+'-prefixed; ties -> allow).  HOFs are fine on THIS path —
    # it only runs for adapters without a pure-function robots_blocked_col
    # (e.g. HttpFetchAdapter), where the broadcast join already dominates.
    path = F.col("path")
    dis_len = F.array_max(F.transform(
        rules,
        lambda r: F.when(
            (r.substr(1, 1) != "+") & path.startswith(r), F.length(r)
        ).otherwise(F.lit(-1)),
    ))
    alw_len = F.array_max(F.transform(
        rules,
        lambda r: F.when(
            (r.substr(1, 1) == "+")
            & path.startswith(r.substr(F.lit(2), F.length(r))),
            F.length(r) - 1,
        ).otherwise(F.lit(-1)),
    ))
    blocked = (F.coalesce(dis_len, F.lit(-1))
               > F.coalesce(alw_len, F.lit(-1)))
    return joined.filter(~blocked).drop("path", "rules_json")


# ---------------------------------------------------------------------------
# politeness (T6): two-phase per-host top-k — no Exchange over the frontier
# ---------------------------------------------------------------------------

_ORDER_COLS = ["priority", "url_hash", "url_canon"]
_ORDER_ASC = [False, True, True]


def _pdf_topk(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    pdf = pdf.sort_values(_ORDER_COLS, ascending=_ORDER_ASC, kind="mergesort")
    return pdf[pdf.groupby("host").cumcount() < budget]


def _partition_topk(batches: Iterator[pd.DataFrame], budget: int) -> pd.DataFrame | None:
    """Per-host top-``budget`` over one partition's Arrow batches.

    Merges geometrically: re-merge only once the rows added since the last
    merge exceed the retained set (or 64k, whichever is larger).  Each merge
    of size S consumes ≥ S/2 fresh rows, so total sort work is O(N log N) in
    the partition size.  A fixed "size > 65536" trigger is quadratic when the
    retained set itself exceeds the threshold (many distinct hosts): every
    subsequent Arrow batch re-sorts the whole accumulation — measured 10×
    superlinear on the 4-core 4M-width select stage before this fix.
    Memory stays bounded by retained + pending ≤ ~2× the final result."""
    parts: list[pd.DataFrame] = []
    pending = 0   # rows appended since the last merge
    retained = 0  # size of the last merged result
    for pdf in batches:
        t = _pdf_topk(pdf, budget)
        parts.append(t)
        pending += len(t)
        if pending > max(65536, retained):
            merged = _pdf_topk(pd.concat(parts, ignore_index=True), budget)
            parts, pending, retained = [merged], 0, len(merged)
    if not parts:
        return None
    if len(parts) == 1:
        return parts[0]
    return _pdf_topk(pd.concat(parts, ignore_index=True), budget)


def _token_params(cfg: CrawlConfig) -> tuple[int, int]:
    cap = cfg.tokens_capacity if cfg.tokens_capacity is not None else cfg.budget_per_host
    refill = cfg.budget_per_host
    assert cap >= refill >= 1, "tokens_capacity must be >= budget_per_host >= 1"
    return cap, refill


def _avail_col(tokens_col, cap: int, refill: int):
    """Available tokens this epoch: absent host = full bucket = cap;
    tracked host = min(cap, stored + refill).  Integer arithmetic —
    deterministic, shared shape with the oracle."""
    return F.when(tokens_col.isNull(), F.lit(cap)).otherwise(
        F.least(F.lit(cap), tokens_col + F.lit(refill))
    )


def _politeness_select(frontier: DataFrame, cfg: CrawlConfig,
                       host_tokens: DataFrame | None = None) -> DataFrame:
    """Per-host token-bucket top-k under (priority DESC, url_hash,
    url_canon).

    Phase 1 (Arrow stage over the scan, no shuffle): per-partition per-host
    top-CAPACITY — a superset of the global winners for ANY row→partition
    assignment and any avail ≤ capacity, so phase 2 — an exact window
    top-k over that small union, joined with the (small) host-token state
    — yields exactly the oracle's selection.  The frontier itself is never
    exchanged; when stored buckets keep hosts partition-local (the layout
    ``_frontier_layout`` produces), phase 1 already emits the exact answer
    and phase 2's shuffle moves only ~capacity×hosts rows."""
    cap, refill = _token_params(cfg)
    budget = cap
    cols = frontier.columns

    def _phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = _partition_topk(batches, budget)
        if out is not None:
            yield out[cols]

    local = frontier.mapInPandas(
        _phase1, ", ".join(f"{c} {t}" for c, t in frontier.dtypes)
    )
    w_host = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("url_hash"), F.asc("url_canon")
    )
    ranked = local.withColumn("rn", F.row_number().over(w_host))
    if cap == refill or host_tokens is None:
        # degenerate bucket (avail is always cap) — no state join needed
        return ranked.filter(F.col("rn") <= budget).drop("rn")
    joined = ranked.join(host_tokens.withColumnRenamed("tokens", "_tok"),
                         "host", "left")
    return (
        joined.filter(F.col("rn") <= _avail_col(F.col("_tok"), cap, refill))
        .drop("rn", "_tok")
    )


# ---------------------------------------------------------------------------
# deterministic global fetch order (seq)
# ---------------------------------------------------------------------------


def _assign_global_seq(spark: SparkSession, df: DataFrame) -> tuple[DataFrame, int]:
    """Deterministic global ``seq`` under the total order (priority DESC ⇔
    depth ASC, url_hash ASC, url_canon ASC) without a single-partition
    window and without sampling:

    * pid = depth·K + hash_range_bucket(url_hash) — a pure FUNCTION of the
      row (url_hash is xxhash64, uniform over int64, so K static
      equal-width ranges balance); pid ascending ⇔ order-prefix ascending;
    * rank locally per pid, count per pid, cumulative offsets joined back
      via a broadcast join (a when()-chain or RangePartitioner would be
      pathological / nondeterministic at cluster partition counts).

    Unlike range partitioning there is no sampled boundary state: any
    recomputation reproduces identical pids, ranks and offsets, so no
    lineage cut is needed for exactness under task retries.

    Returns ``(df_with_seq, n_rows)`` — the total falls out of the offsets
    collect for free, so callers need no separate count() action (each
    driver action costs ~0.5 s of plan+submit regardless of cluster size,
    a serial term of every epoch that more cores do not shrink)."""
    # K is a CONSTANT, not cores×2: seq is total-order-invariant under any
    # K (tested), so tying it to defaultParallelism only made the plan —
    # and the window's task sizes — differ between cluster widths for no
    # semantic reason.  128 buckets × depth keeps each pid's local sort
    # small at any realistic epoch width while the offsets collect stays
    # O(depths×128) rows.
    k = 7
    K = 1 << k
    bucket = F.shiftright(F.col("url_hash"), 64 - k) + F.lit(1 << (k - 1))
    ranked = df.withColumn(
        "_pid", F.col("depth").cast("long") * K + bucket
    )
    w = Window.partitionBy("_pid").orderBy(F.asc("url_hash"), F.asc("url_canon"))
    ranked = ranked.withColumn("_rn", F.row_number().over(w))
    counts = {
        r._pid: r.cnt
        for r in ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        return (
            ranked.withColumn("seq", F.lit(0)).drop("_pid", "_rn").limit(0), 0
        )
    off_df = spark.createDataFrame(offsets, "_pid long, _off long")
    out = (
        ranked.join(F.broadcast(off_df), "_pid")
        .withColumn("seq", (F.col("_off") + F.col("_rn") - 1).cast("int"))
        .drop("_pid", "_rn", "_off")
    )
    return out, acc


# ---------------------------------------------------------------------------
# fetch + cuckoo stages
# ---------------------------------------------------------------------------


def _canonical_links(hrefs: list[list[str]]) -> list[list[tuple]]:
    """Per-page ``(url_canon, host, path)`` links of one Arrow batch.

    ONE ``canonicalize_series`` call over every page's hrefs flattened:
    the call's pandas overhead is per call, so per-page calls cost ~770
    µs/link at 10 links against ~29 µs at 2,048 and ~9.9 µs at 8k.
    Unparseable hrefs are dropped (the oracle's rule); the fetch log's
    ``n_links`` keeps the raw count."""
    from mlscraper_spark.crawl.urlnorm import canonicalize_series

    flat = [h for page in hrefs for h in page]
    if not flat:
        return [[] for _ in hrefs]
    c = canonicalize_series(pd.Series(flat, dtype=object))
    triples = list(zip(c["url_canon"], c["host"], c["path"]))
    out, i = [], 0
    for page in hrefs:
        j = i + len(page)
        out.append([t for t in triples[i:j] if isinstance(t[0], str)])
        i = j
    return out


def _payload_fields(scraper_plan: dict | None,
                    emit_images: bool) -> list[T.StructField]:
    """Payload columns the fetch stage (and the resume backfill) emits."""
    from mlscraper_spark.images.ops import IMAGES_SCHEMA

    return (
        ([T.StructField("value_json", T.StringType())] if scraper_plan else [])
        + ([T.StructField("images", T.ArrayType(IMAGES_SCHEMA))]
           if emit_images else [])
    )


def _page_payload(status: int, html: bytes, scraper_plan: dict | None,
                  emit_images: bool) -> dict:
    """The requested payload columns of one response, from ONE parse:
    ``value_json`` is the plan's value (NULL when the page is not a 200 or
    the plan raised, the JSON "null" when it extracted nothing — the
    operators/extract.py convention) and ``images`` the page's
    IMAGES_SCHEMA rows."""
    if not (scraper_plan or emit_images):
        return {}
    from mlscraper_spark.crawl.synthweb import images_in
    from mlscraper_spark.dom.css import PageDOM
    from mlscraper_spark.dom.parser import parse_html
    from mlscraper_spark.images.ops import image_rows
    from mlscraper_spark.training.matches import PAGE_ROOT
    from mlscraper_spark.training.scrapers import apply_plan

    recs = parse_html(html) if status == 200 else None
    out = {}
    if scraper_plan:
        out["value_json"] = None
        if recs is not None:
            try:
                out["value_json"] = json.dumps(
                    apply_plan(PageDOM(recs), PAGE_ROOT, scraper_plan,
                               strict=False),
                    sort_keys=True,
                )
            except Exception:
                pass
    if emit_images:
        out["images"] = image_rows(images_in(recs)) if recs is not None else []
    return out


def _payload_tables(pages: DataFrame, scraper_plan: dict | None,
                    emit_images: bool) -> dict[str, DataFrame]:
    """Table name → frame of an epoch's payload from its 200 pages."""
    tables = {}
    if scraper_plan:
        tables["extractions"] = pages.select("url_canon", "value_json")
    if emit_images:
        tables["images"] = pages.select(
            F.explode("images").alias("im")
        ).select("im.*")
    return tables


def _fetch_udf(web: WebConfig, fetch_adapter=None,
               scraper_plan: dict | None = None, emit_images: bool = False):
    """Arrow fetch stage — the one Python pass over each page: fetch,
    link scan, link canonicalization (batched, see ``_canonical_links``)
    and, when the crawl carries a plan or emits images, the page's
    payload from a single parse (``_page_payload``).  ``fetch_adapter``
    (crawl/fetchers.FetchAdapter) makes the transport injectable — the
    synthetic web by default, an HttpFetchAdapter for real deployments —
    without touching the epoch loop; the adapter is pickled into the
    python workers."""
    out_schema = T.StructType(
        [
            T.StructField("url_canon", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("host_bucket", T.IntegerType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("depth", T.IntegerType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("n_links", T.IntegerType()),
            T.StructField("n_images", T.IntegerType()),
            T.StructField("page_fp", T.LongType()),
            T.StructField("links", T.ArrayType(T.StructType(
                [T.StructField(c, T.StringType())
                 for c in ("url_canon", "host", "path")]
            ))),
        ]
        + _payload_fields(scraper_plan, emit_images)
    )

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.crawl.fetchers import SynthWebAdapter
        from mlscraper_spark.crawl.urlnorm import content_fp

        adapter = fetch_adapter or SynthWebAdapter(web)
        for pdf in batches:
            rows, hrefs = [], []
            for url, host, hb, seq, depth in zip(
                pdf["url_canon"], pdf["host"], pdf["host_bucket"], pdf["seq"],
                pdf["depth"],
            ):
                status, html = adapter.fetch(url)
                links, n_images = adapter.response_meta(url, status, html)
                # content fingerprint of successful pages: the same page
                # served under different canonical URLs (query-string
                # mirrors) hashes identically, which is what crawl-time
                # content dedup keys on; non-200 bodies carry no content
                page_fp = content_fp(bytes(html)) if status == 200 else None
                rows.append({
                    "url_canon": url, "host": host, "host_bucket": int(hb),
                    "seq": int(seq), "depth": int(depth), "status": status,
                    "n_links": len(links), "n_images": n_images,
                    "page_fp": page_fp,
                    **_page_payload(status, html, scraper_plan, emit_images),
                })
                hrefs.append(links)
            for row, links in zip(rows, _canonical_links(hrefs)):
                row["links"] = links
            yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    return _fetch, out_schema


# typed zero / pandas dtype per Spark simple type, for the fused cogroup's
# filter row below.  The filter row's candidate columns are never consumed
# (readers project by ``kind``), but they carry REAL typed values so the
# concat in _fuse_frames never pairs an all-NA column with a typed one —
# pandas' concat dtype-inference FutureWarning trap.  All-NA OBJECT columns
# meeting object columns (blob/fingerprint on the candidate rows) are
# warning-free and inference-stable.
_TYPED_ZERO = {"string": "", "bigint": 0, "int": 0, "double": 0.0,
               "float": 0.0, "boolean": False}
_PD_DTYPE = {"string": object, "bigint": "int64", "int": "int32",
             "double": "float64", "float": "float32", "boolean": bool}


def _fuse_frames(cand_dtypes: list, cpdf: pd.DataFrame, maybe_seen,
                 blob: bytes, fingerprint: str, bucket: int) -> pd.DataFrame:
    """Assemble one cogroup output frame: one ``kind='f'`` filter row
    (blob + lineage fingerprint) followed by the ``kind='c'`` candidate
    rows.  Module-level pure-pandas so the no-FutureWarning contract is
    pinned by an in-process test (worker-side warnings never reach
    pytest's filters); Arrow casts the result back per the cogroup's
    out_schema, so exact frame dtypes are cosmetic — what matters is that
    no concat operand has an all-NA column facing a differently-typed one.
    """
    cols = {c: pd.Series([_TYPED_ZERO[t]], dtype=_PD_DTYPE[t])
            for c, t in cand_dtypes}
    cols["host_bucket"] = pd.Series([bucket], dtype="int32")
    frow = pd.DataFrame({
        **cols,
        "maybe_seen": pd.Series([False]),
        "blob": pd.Series([blob], dtype=object),
        "fingerprint": pd.Series([fingerprint], dtype=object),
        "kind": pd.Series(["f"], dtype=object),
    })
    if not len(cpdf):
        return frow
    out = cpdf.copy()
    out["maybe_seen"] = maybe_seen
    out["blob"] = None
    out["fingerprint"] = None
    out["kind"] = "c"
    return pd.concat([frow, out], ignore_index=True)


def _merge_frontier_delta(old_dirty: DataFrame, vetted: DataFrame,
                          selected: DataFrame) -> DataFrame:
    """Next-frontier content for the dirty buckets in ONE hash
    aggregation: the oracle's per-URL merge rule (MIN depth, MIN
    discovered_epoch over surviving old rows ∪ vetted discoveries) fused
    with the removal of this epoch's fetched URLs.

    ``selected`` rows enter the union as kill markers (null identity
    columns, ``_fetched=1``); any group containing a marker is dropped.
    Equivalent to the previous anti-join-then-merge, but with no join and
    ONE Exchange (the aggregation's own, on url_canon) instead of a join
    exchange followed by the merge's groupBy exchange — and with no
    broadcast of the epoch-width fetch set anywhere, so the plan is the
    same at any cluster size (pinned by
    test_crawl.py::test_delta_merge_single_exchange_no_join).

    Correct because url_hash/host/host_bucket are pure functions of
    url_canon (any non-null FIRST is exact), vetted never contains a
    fetched URL (the seen-check already excludes this epoch's
    seen_delta), and MIN/MAX are union-order-insensitive."""
    rows = (
        old_dirty.select(*_IDENTITY_COLS).withColumn("_fetched", F.lit(0))
        .unionByName(
            vetted.select(*_IDENTITY_COLS).withColumn("_fetched", F.lit(0))
        )
        .unionByName(
            selected.select("url_canon").withColumn("_fetched", F.lit(1)),
            allowMissingColumns=True,
        )
    )
    return (
        rows.groupBy("url_canon")
        .agg(
            F.first("url_hash", ignorenulls=True).alias("url_hash"),
            F.first("host", ignorenulls=True).alias("host"),
            F.first("host_bucket", ignorenulls=True).alias("host_bucket"),
            F.min("depth").alias("depth"),
            F.min("discovered_epoch").alias("discovered_epoch"),
            F.max("_fetched").alias("_fetched"),
        )
        .filter(F.col("_fetched") == 0)
        .drop("_fetched")
    )


def _update_and_split(filters: DataFrame, seen_delta: DataFrame,
                      cand: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """ONE cogroup pass per host_bucket: insert this epoch's fetched
    url_hashes into the bucket's cuckoo blob, then flag the bucket's
    candidate discoveries against the UPDATED filter (P10/E5, fused).

    Two chained cogroups (update-blobs → check-candidates) re-shuffled
    the MB-sized blobs between the stages every epoch; fusing removes a
    full shuffle + python stage.  Output rows are tagged:
    ``kind='f'`` rows carry (blob, fingerprint) — the next filters
    snapshot; ``kind='c'`` rows carry the candidate columns +
    ``maybe_seen`` (False ⇒ definitely new).  Semantics are identical to
    the two-stage form: per bucket the blob updates first (SORTED insert
    order, so blob bytes and the manifest's md5 lineage fingerprints stay
    a pure function of the hash SET under any shuffle arrival order),
    then candidates are checked against the updated filter.  A bucket
    seen only in candidates emits an empty filter blob — equivalent to
    the previous absent-row convention (readers treat both as empty).

    The cogroup ALSO performs the oracle's within-epoch merge rule on the
    candidates (one row per url_canon, MIN depth; discovered_epoch is
    constant within an epoch): url_canon determines host_bucket, so the
    dedup is exact per bucket, and folding it in here means the raw
    discovery delta shuffles ONCE (to this cogroup) instead of paying a
    separate groupBy(url_canon) exchange first."""
    cand_dtypes = cand.dtypes
    cand_cols = [c for c, _ in cand_dtypes]
    tagged = cand.withColumn("is_seen", F.lit(False)).unionByName(
        seen_delta.select("host_bucket", "url_hash",
                          F.lit(True).alias("is_seen")),
        allowMissingColumns=True,
    )
    out_schema = (
        ", ".join(f"{c} {t}" for c, t in cand.dtypes)
        + ", maybe_seen boolean, blob binary, fingerprint string, kind string"
    )

    def _fuse(key, blob_pdf, mixed_pdf):
        import hashlib

        import numpy as np

        from mlscraper_spark.crawl.cuckoo import CuckooFilter

        if len(blob_pdf) and blob_pdf["blob"].iloc[0] is not None:
            flt = CuckooFilter.from_bytes(
                bytes(blob_pdf["blob"].iloc[0]), cfg.filter_buckets
            )
        else:
            flt = CuckooFilter(cfg.filter_buckets)
        seen = mixed_pdf[mixed_pdf["is_seen"]]
        cpdf = mixed_pdf[~mixed_pdf["is_seen"]]
        if len(cpdf):
            # within-epoch merge rule (MIN depth per url_canon): stable
            # sort + keep-first is deterministic — rows with equal
            # (url_canon, depth) are fully identical this epoch
            cpdf = cpdf.sort_values(
                ["url_canon", "depth"], kind="mergesort"
            ).drop_duplicates("url_canon", keep="first")
        if len(seen):
            flt.insert_many(np.sort(seen["url_hash"].to_numpy(np.int64)))
        blob = flt.to_bytes()
        maybe_seen = (
            flt.contains_many(cpdf["url_hash"].to_numpy(np.int64))
            if len(cpdf)
            else np.zeros(0, dtype=bool)
        )
        return _fuse_frames(
            cand_dtypes, cpdf[cand_cols], maybe_seen, blob,
            hashlib.md5(blob).hexdigest(), int(key[0]),
        )

    return filters.select("host_bucket", "blob").groupBy("host_bucket").cogroup(
        tagged.groupBy("host_bucket")
    ).applyInPandas(_fuse, out_schema)


def _base_epoch(root: str, epoch: int, key: str) -> int | None:
    """Epoch whose snapshot holds the named compacted base table, or None."""
    return _read_manifest(root, epoch).get(key)


def _read_base_plus_deltas(spark: SparkSession, root: str, upto_epoch: int,
                           base_key: str, table: str, schema: str) -> DataFrame:
    """An append-only table as of a snapshot: the latest compacted
    ``{table}_base`` (if any) plus the ``{table}_delta`` dirs after it —
    the Iceberg base+delta shape; periodic compaction bounds the union
    width at seen_compact_every regardless of crawl age."""
    fmt = get_table_format(spark)
    base = _base_epoch(root, upto_epoch, base_key)
    paths = []
    start = -1
    if base is not None:
        paths.append(os.path.join(_snap_dir(root, base), f"{table}_base"))
        start = base + 1
    paths += [
        p
        for e in range(start, upto_epoch + 1)
        if fmt.exists(spark, p := os.path.join(_snap_dir(root, e), f"{table}_delta"))
    ]
    return fmt.read(spark, paths, schema)


def read_url_seen(spark: SparkSession, root: str, upto_epoch: int) -> DataFrame:
    return _read_base_plus_deltas(
        spark, root, upto_epoch, "seen_base_epoch", "url_seen", SEEN_SCHEMA
    )


def read_host_tokens(spark: SparkSession, root: str, epoch: int) -> DataFrame:
    """Politeness token state after an epoch; absent table = every host
    at full capacity (the default-config path never writes one)."""
    fmt = get_table_format(spark)
    p = os.path.join(_snap_dir(root, epoch), "host_tokens")
    if not fmt.exists(spark, p):
        return spark.createDataFrame([], HOST_TOKENS_SCHEMA)
    return fmt.read(spark, [p], HOST_TOKENS_SCHEMA)


def _next_host_tokens(host_tokens: DataFrame, sel_counts: DataFrame,
                      cfg: CrawlConfig) -> DataFrame:
    """Refill every tracked host, consume where fetched, forget hosts
    whose next avail is back at capacity (keeps the table sized by
    recently-throttled hosts, not by all hosts ever seen)."""
    cap, refill = _token_params(cfg)
    j = host_tokens.withColumnRenamed("tokens", "_tok").join(
        sel_counts, "host", "full_outer"
    )
    left = _avail_col(F.col("_tok"), cap, refill) - F.coalesce(
        F.col("n_sel"), F.lit(0)
    )
    return (
        j.withColumn("tokens", left.cast("int"))
        .filter(F.least(F.lit(cap), F.col("tokens") + F.lit(refill)) < cap)
        .select("host", "tokens")
    )


def read_robots(spark: SparkSession, root: str, upto_epoch: int) -> DataFrame:
    return _read_base_plus_deltas(
        spark, root, upto_epoch, "robots_base_epoch", "robots", ROBOTS_SCHEMA
    )


# ---------------------------------------------------------------------------
# the epoch
# ---------------------------------------------------------------------------


def _read_filters(spark: SparkSession, root: str, epoch: int) -> DataFrame:
    return get_table_format(spark).read(
        spark, [os.path.join(_snap_dir(root, epoch), "filters")], FILTERS_SCHEMA
    )


def _host_tokens_table(spark: SparkSession, host_tokens: DataFrame,
                       selected: DataFrame | None, cfg: CrawlConfig) -> dict:
    """The snapshot's politeness token state after consuming ``selected``
    (None: an empty epoch, where the refill still ticks — tokens accrue
    with time).  Written only when the bucket is non-degenerate: cap ==
    refill keeps the table nonexistent and costs nothing."""
    cap, refill = _token_params(cfg)
    if cap == refill:
        return {}
    if selected is None:
        sel_counts = spark.createDataFrame([], "host string, n_sel long")
    else:
        sel_counts = selected.groupBy("host").agg(
            F.count(F.lit(1)).alias("n_sel")
        )
    return {"host_tokens": _next_host_tokens(host_tokens, sel_counts, cfg)}


def run_epoch(spark: SparkSession, root: str, epoch: int, web: WebConfig,
              cfg: CrawlConfig, fetch_adapter=None,
              scraper_plan: dict | None = None,
              emit_images: bool = False) -> int:
    """Run one BSP epoch; returns number of URLs fetched.  With a
    ``scraper_plan`` / ``emit_images`` the epoch's snapshot also commits
    its ``extractions`` / ``images`` tables (see ``run_crawl``)."""
    refs = _frontier_refs(root, epoch - 1)
    frontier = read_frontier(spark, root, epoch - 1)
    host_tokens = read_host_tokens(spark, root, epoch - 1)

    # ---- politeness top-k (T6) + global fetch order --------------------
    # the politeness output is cached BEFORE seq assignment: the seq
    # offsets collect inside _assign_global_seq materializes this cache,
    # so the frontier scan + two-phase top-k run exactly once per epoch
    pol = _politeness_select(frontier, cfg, host_tokens).cache()
    # n_selected falls out of the seq-offsets collect — no separate
    # count() action; the selected cache materializes inside the fetch job
    selected, n_selected = _assign_global_seq(spark, pol)
    selected = selected.cache()
    # caches created below are released in the finally block even when a
    # stage throws (long sessions run many crawls)
    _caches = [selected, pol]
    try:
        if n_selected > 0:
            return _run_epoch_body(
                spark, root, epoch, web, cfg, refs, host_tokens, selected,
                n_selected, _caches, fetch_adapter, scraper_plan, emit_images,
            )
        # nothing selected — the final snapshot of every completed crawl:
        # every frontier bucket carries forward by reference, the deltas
        # are empty and the filters table is rewritten unchanged, so the
        # previous manifest's lineage (fingerprints, base epochs) is exact
        prev = _read_manifest(root, epoch - 1)
        _commit_snapshot(
            spark, root, epoch,
            {
                "url_seen_delta": SEEN_SCHEMA,
                "fetch_log": FETCHLOG_SCHEMA,
                "robots_delta": ROBOTS_SCHEMA,
                "filters": _read_filters(spark, root, epoch - 1),
                **_host_tokens_table(spark, host_tokens, None, cfg),
            },
            {
                "n_fetched": 0,
                "filter_fingerprints": prev.get("filter_fingerprints", {}),
                "frontier_refs": prev["frontier_refs"],
                "seen_base_epoch": prev.get("seen_base_epoch"),
                "robots_base_epoch": prev.get("robots_base_epoch"),
            },
        )
        return 0
    finally:
        for df_ in _caches:
            df_.unpersist()


def _run_epoch_body(spark, root, epoch, web, cfg, refs, host_tokens,
                    selected, n_selected, _caches, fetch_adapter=None,
                    scraper_plan=None, emit_images=False):
    adapter = fetch_adapter or SynthWebAdapter(web)
    robots = read_robots(spark, root, epoch - 1)
    url_seen = read_url_seen(spark, root, epoch - 1)
    # ---- fetch + parse + canonicalize + payload (S4, one Arrow pass) ---
    fetch_fn, fetch_schema = _fetch_udf(web, fetch_adapter, scraper_plan,
                                        emit_images)
    # Task count is a function of DATA SIZE (one task per ~50k URLs — the
    # maxPartitionBytes analog: bounds worst-case fetch-result memory per
    # python worker and retry re-fetch granularity), floored at the core
    # count so a small epoch still uses the whole cluster.  Data-sized,
    # not cores×K-sized, because every python task carries a measured
    # ~0.2-0.3 s of fixed overhead (Arrow stream + worker round-trip):
    # a 4-waves-per-core policy made the per-epoch overhead GROW with
    # cluster width.  Partition count never changes results (politeness
    # is enforced upstream), only task granularity.
    n_fetch = max(spark.sparkContext.defaultParallelism,
                  n_selected // 50_000 + 1)
    # cache: the fetch output feeds the fetch log, the link discoveries,
    # the metrics and the payload tables.  The dirty-bucket collect below
    # materializes it inside its own job, so fetching costs no separate
    # driver action.  With emit_images the cache holds the image bytes
    # until the snapshot writes finish.
    fetched = (
        selected.select("url_canon", "url_hash", "host", "host_bucket", "seq", "depth")
        .repartition(n_fetch, "url_hash")
        .drop("url_hash")
        .mapInPandas(fetch_fn, fetch_schema)
        .cache()
    )
    _caches.append(fetched)

    fetch_log = fetched.select(
        F.lit(epoch).alias("epoch"), "seq", "url_canon", "host",
        "status", "n_links", "n_images", "page_fp",
    )

    # ---- discoveries: admission (trap guard, robots) (J8) --------------
    # links arrive canonicalized from the fetch stage, unparseable hrefs
    # already dropped; path rides along for the robots filter
    disc, robots_new = _admit(
        spark,
        fetched.select(
            (F.col("depth") + 1).alias("depth"), F.explode("links").alias("l")
        ).select("depth", "l.url_canon", "l.host", "l.path"),
        robots, epoch + 1, cfg, adapter,
    )
    _caches.append(robots_new)
    # within-epoch dedup happens INSIDE the seen-check cogroup (same
    # host_bucket key — saves a full groupBy(url_canon) exchange of the
    # raw delta); column order fixed here so the cogroup's output schema
    # is stable
    adds = disc.withColumn("discovered_epoch", F.lit(epoch + 1)).select(
        *_IDENTITY_COLS
    )

    # ---- url_seen delta + cuckoo update (P10/E5) ------------------------
    seen_delta = selected.select(
        "url_canon", "url_hash", "host_bucket", F.lit(epoch).alias("seen_epoch")
    )
    url_seen_all = url_seen.unionByName(seen_delta)
    # ---- fused cuckoo update + seen-check of the DELTA only (P10/E5) ----
    # cache: the single cogroup output feeds the filters snapshot, the
    # fingerprint collect, AND both flag branches — without it the whole
    # discovery pipeline + blob rebuild would run once per consumer
    fused = _update_and_split(
        _read_filters(spark, root, epoch - 1), seen_delta, adds, cfg
    ).cache()
    _caches.append(fused)
    filters_new = fused.filter(F.col("kind") == "f").select(
        "host_bucket", "blob", "fingerprint"
    )
    flagged = fused.filter(F.col("kind") == "c").drop(
        "blob", "fingerprint", "kind"
    )
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    survived = maybe.join(
        url_seen_all.select("url_canon"), "url_canon", "left_anti"
    )
    vetted = definitely_new.unionByName(survived).cache()
    _caches.append(vetted)

    # ---- delta merge: rewrite DIRTY buckets only -------------------------
    # ONE job collects both per-bucket facts the driver needs this epoch:
    # the dirty-bucket set (selected ∪ vetted markers, fingerprint NULL)
    # and the manifest's filter fingerprints ('f' rows) — previously two
    # collects ~0.5 s of serial driver time apart.  All inputs are cached
    # (or derive from caches), so the union scans caches; O(buckets) rows.
    _null_fp = F.lit(None).cast("string").alias("fingerprint")
    bucket_info = (
        selected.select("host_bucket", _null_fp)
        .unionByName(vetted.select("host_bucket", _null_fp))
        .unionByName(filters_new.select("host_bucket", "fingerprint"))
        .distinct()
        .collect()
    )
    dirty = sorted({r.host_bucket for r in bucket_info
                    if r.fingerprint is None})
    fingerprints = {str(r.host_bucket): r.fingerprint for r in bucket_info
                    if r.fingerprint is not None}
    new_refs = {b: e for b, e in refs.items()}
    for b in dirty:
        new_refs[b] = epoch
    if len(set(new_refs.values())) > cfg.max_ref_span:
        # compaction: rewrite every bucket into this snapshot so the ref
        # chain stays short and old snapshots can be expired
        dirty = sorted(set(refs) | set(dirty))
        new_refs = {b: epoch for b in dirty}

    old_dirty = read_frontier(spark, root, epoch - 1, buckets=dirty)
    frontier_dirty = (
        _merge_frontier_delta(old_dirty, vetted, selected)
        .withColumn("priority", _priority_col())
        .select(
            "url_canon", "url_hash", "host", "host_bucket", "priority",
            "depth", "discovered_epoch",
        )
    )

    # ---- metrics (A8) ----------------------------------------------------
    metrics = fetched.groupBy("host_bucket").agg(
        F.count(F.lit(1)).alias("n_fetched"),
        F.sum("n_links").alias("n_links"),
        F.sum("n_images").alias("n_images"),
    ).withColumn("epoch", F.lit(epoch))

    # ---- snapshot --------------------------------------------------------
    tables = {
        "frontier": _frontier_layout(frontier_dirty, max(1, len(dirty))),
        "url_seen_delta": seen_delta,
        "fetch_log": fetch_log,
        "robots_delta": robots_new,
        "filters": filters_new,
        "metrics": metrics,
        # the payload commits with the snapshot: a kill before the
        # manifest leaves an incomplete epoch, never one missing its payload
        **_payload_tables(fetched.filter(F.col("status") == 200),
                          scraper_plan, emit_images),
        **_host_tokens_table(spark, host_tokens, selected, cfg),
    }
    # periodic url_seen/robots compaction: fold base + all deltas (incl.
    # this epoch's) into a fresh base so reads stay O(seen_compact_every)
    # wide regardless of crawl age
    compact = (epoch + 1) % cfg.seen_compact_every == 0
    if compact:
        tables["url_seen_base"] = url_seen_all
        tables["robots_base"] = robots.unionByName(robots_new)
    prev = _read_manifest(root, epoch - 1)
    _commit_snapshot(
        spark, root, epoch, tables,
        {
            "n_fetched": n_selected,
            "filter_fingerprints": fingerprints,
            "frontier_refs": {str(b): e for b, e in sorted(new_refs.items())},
            "seen_base_epoch": epoch if compact else prev.get("seen_base_epoch"),
            "robots_base_epoch": (
                epoch if compact else prev.get("robots_base_epoch")
            ),
        },
    )
    return n_selected


def run_crawl(spark: SparkSession, root: str, seeds, web: WebConfig,
              cfg: CrawlConfig, max_epochs: int,
              scraper_plan: dict | None = None,
              emit_images: bool = False,
              fetch_adapter=None) -> None:
    """Run (or resume) a crawl up to max_epochs.  Resume is automatic: the
    loop starts after the last complete snapshot, so a killed run continues
    exactly where it stopped (tested identical to an uninterrupted run).

    ``seeds``: list[str] or a single-string-column DataFrame (the scale
    path — see seed_crawl).  Bit-for-bit identical results either way
    (tested): seeding canonicalizes + dedups, so source shape can't leak
    into snapshot content.

    Optional per-epoch payload (the north-star path), computed inside the
    fetch stage from the same response and parse as the links, and
    committed with the epoch's snapshot:

    * ``scraper_plan``: apply a trained plan to every page fetched this
      epoch → ``extractions`` table (url_canon, value_json);
    * ``emit_images``: emit the input_hint images table
      (image_id, bytes, w, h, fmt, caption, phash) per epoch.

    Raw HTML is never persisted.  A payload table missing from a complete
    epoch (the crawl ran without the option, or the table was deleted) is
    backfilled on resume by refetching through ``fetch_adapter``.
    """
    last = last_complete_epoch(root)
    if last is None:
        seed_crawl(spark, root, seeds, web, cfg, fetch_adapter)
        last = -1
    if scraper_plan or emit_images:
        # Commit detection goes through the TableFormat seam — an
        # uncommitted table must be redone whatever the storage format.
        fmt = get_table_format(spark)
        for e in range(0, last + 1):
            d = _snap_dir(root, e)

            def _complete(name):
                return fmt.is_complete(spark, os.path.join(d, name))

            missing = (scraper_plan and not _complete("extractions")) or (
                emit_images and not _complete("images")
            )
            if missing and fmt.exists(spark, os.path.join(d, "fetch_log")):
                _run_payload_stages(spark, root, e, web, scraper_plan,
                                    emit_images, fetch_adapter)
    for epoch in range(last + 1, max_epochs):
        n = run_epoch(spark, root, epoch, web, cfg, fetch_adapter,
                      scraper_plan, emit_images)
        if n == 0:
            break


def _run_payload_stages(spark: SparkSession, root: str, epoch: int,
                        web: WebConfig, scraper_plan: dict | None,
                        emit_images: bool, fetch_adapter=None) -> None:
    """Resume backfill of one complete epoch's payload tables: refetch its
    200 pages through the adapter and derive the payload with the fetch
    stage's own per-page helper (fetch is a pure function of the URL under
    the synthetic web, so the result equals the epoch's own)."""
    fmt = get_table_format(spark)
    d = _snap_dir(root, epoch)
    urls = fmt.read(spark, [os.path.join(d, "fetch_log")], FETCHLOG_SCHEMA).filter(
        F.col("status") == 200
    ).select("url_canon")
    schema = T.StructType([T.StructField("url_canon", T.StringType())]
                          + _payload_fields(scraper_plan, emit_images))

    def _refetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        adapter = fetch_adapter or SynthWebAdapter(web)
        for pdf in batches:
            rows = []
            for url in pdf["url_canon"]:
                status, html = adapter.fetch(url)
                rows.append({"url_canon": url, **_page_payload(
                    status, html, scraper_plan, emit_images)})
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    # cache: both payload tables read the one refetch
    pages = urls.mapInPandas(_refetch, schema).cache()
    try:
        for name, df in _payload_tables(pages, scraper_plan,
                                        emit_images).items():
            fmt.write(df, os.path.join(d, name))
    finally:
        pages.unpersist()


EXTRACTIONS_SCHEMA = "url_canon string, value_json string"


def _read_epoch_tables(spark: SparkSession, root: str, name: str,
                       schema: object) -> DataFrame:
    fmt = get_table_format(spark)
    last = last_complete_epoch(root)
    paths = [
        p
        for e in range(0, (last if last is not None else -1) + 1)
        if fmt.exists(spark, p := os.path.join(_snap_dir(root, e), name))
    ]
    if not paths:  # nothing written yet → empty frame, not AnalysisException
        return spark.createDataFrame([], schema)
    return fmt.read(spark, paths, schema)


def read_images(spark: SparkSession, root: str) -> DataFrame:
    from mlscraper_spark.images.ops import IMAGES_SCHEMA

    return _read_epoch_tables(spark, root, "images", IMAGES_SCHEMA)


def read_extractions(spark: SparkSession, root: str) -> DataFrame:
    return _read_epoch_tables(spark, root, "extractions", EXTRACTIONS_SCHEMA)


def read_fetch_log(spark: SparkSession, root: str) -> DataFrame:
    return _read_epoch_tables(spark, root, "fetch_log", FETCHLOG_SCHEMA)


def content_dup_groups(spark: SparkSession, root: str) -> DataFrame:
    """Crawl-time content dedup: groups of distinct canonical URLs that
    served byte-identical pages (same ``page_fp``) — e.g. query-string
    mirrors of the same document.  Returns one row per duplicated
    fingerprint: ``(page_fp, n_urls, canonical_url)`` where
    ``canonical_url`` is the lexicographically-least member (the dedup
    survivor a downstream extraction pipeline should keep).

    Scale shape: a single hash aggregation over the fetch log keyed by
    the 64-bit fingerprint — map-side partial aggs shrink each partition
    to its distinct fps before the shuffle, and the output is bounded by
    the number of *duplicated* documents, not the crawl size."""
    return (
        read_fetch_log(spark, root)
        .filter(F.col("page_fp").isNotNull())
        .groupBy("page_fp")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("url_canon").alias("canonical_url"),
        )
        .filter(F.col("n_urls") > 1)
    )
