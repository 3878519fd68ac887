"""CSS selector candidate generation + uniqueness verification.

Re-expression of ``/root/reference/mlscraper/selectors.py`` over flat node
records.  Candidate generation is per-node local work (powerset of classes ×
ancestor paths × combinators, ``selectors.py:159-223``); uniqueness
verification is the ordered select-compare with the limit+1 trick
(``selectors.py:59-70``).

Verification has two interchangeable executions with identical results:
inline on the driver (reference-sized inputs; lazy, stops at the first
passing rule) and ``generate_unique_selectors_for_nodes`` with a
``spark`` session (the fan-out: candidate rules become a DataFrame, page
node-records are broadcast, every rule is verified in parallel via
mapInPandas, and the winner is the (len, lex)-first passing rule — the
same rule the inline path yields first).  ``train_scraper(...,
spark=...)`` switches to the fan-out when the candidate set exceeds
``SPARK_VERIFY_THRESHOLD``.
"""
from __future__ import annotations

import re
from itertools import combinations as _combos

from mlscraper_spark.dom.css import PageDOM, SelectorParseError
from mlscraper_spark.dom.parser import is_supported_class
from mlscraper_spark.training.matches import PAGE_ROOT, has_ancestor
from mlscraper_spark.util import dedupe_preserving_order

# ids are used with #id, classes are used too, rel is too generic
# (selectors.py:12-13)
ATTRIBUTE_SELECTOR_BLACKLIST = ("id", "class", "rel")


def make_selector_for_classes(class_combination) -> str:
    """Sorted to dedupe .a.b vs .b.a (html.py:241-245)."""
    return "".join(sorted(f".{cl}" for cl in class_combination))


def _is_plain_attribute_value(v: str) -> bool:
    """Reference guard (selectors.py:184-186): note ``re.match`` only tests
    the first character — reproduced faithfully; we additionally refuse
    embedded double quotes and square brackets (either would produce an
    unparseable ``[attr="..."]`` rule — the reference would also choke on
    such a rule at select time)."""
    return bool(re.match(r"[A-z \-]", v)) and not any(c in v for c in '"[]')


def generate_regular_node_selectors(dom: PageDOM, node_id: int):
    """selectors.py:159-193"""
    rec = dom.node(node_id)
    yield rec.tag
    if rec.attrs.get("id"):
        yield f"#{rec.attrs['id']}"
    classes = [c for c in rec.classes if is_supported_class(c)]
    for k in range(1, len(classes) + 1):
        for combo in _combos(classes, k):
            class_selector = make_selector_for_classes(combo)
            yield class_selector
            yield f"{rec.tag}{class_selector}"
    for attr, value in rec.attrs.items():
        if attr in ATTRIBUTE_SELECTOR_BLACKLIST:
            continue
        if not re.fullmatch(r"[A-Za-z_][\w\-]*", attr):
            continue  # namespaced attrs (xml:lang, xlink:href) break CSS
        yield f"{rec.tag}[{attr}]"
        if _is_plain_attribute_value(value):
            yield f'{rec.tag}[{attr}="{value}"]'


def generate_node_selectors(dom: PageDOM, node_id: int):
    """selectors.py:136-157 — regular selectors plus :nth-child variants.

    The nth index replicates the reference exactly: position of the node in
    ``parent.select(css)`` + 1 (selectors.py:152) — *not* CSS nth-child
    semantics; invalid candidates are weeded out by uniqueness verification
    just like in the reference (``todo`` at selectors.py:145).
    """
    rec = dom.node(node_id)
    if rec.tag in ("html", "body"):
        return
    selectors = dedupe_preserving_order(generate_regular_node_selectors(dom, node_id))
    yield from selectors
    parent = rec.parent_id if rec.parent_id >= 0 else PAGE_ROOT
    for css in selectors:
        if not css.startswith("#"):
            try:
                hits = dom.select(parent, css)
            except SelectorParseError:
                # a candidate built from hostile markup (e.g. a class or
                # attr value our guards let through) must be skipped, not
                # crash training — parity with the uniqueness-check skip
                continue
            nth = hits.index(node_id) + 1
            yield f"{css}:nth-child({nth})"


class _PageSelectorIndex:
    """Memoized per-page selector generation (the reference's functools
    caches, selectors.py:128, :196)."""

    def __init__(self, dom: PageDOM):
        self.dom = dom
        self._node_sel: dict[int, tuple[str, ...]] = {}
        self._path_sel: dict[tuple[int, int], tuple[str, ...]] = {}

    def node_selectors(self, node_id: int) -> tuple[str, ...]:
        if node_id not in self._node_sel:
            self._node_sel[node_id] = tuple(
                dedupe_preserving_order(generate_node_selectors(self.dom, node_id))
            )
        return self._node_sel[node_id]

    def path_selectors(self, node_id: int, max_length: int) -> tuple[str, ...]:
        """selectors.py:196-223"""
        key = (node_id, max_length)
        if key not in self._path_sel:
            self._path_sel[key] = tuple(
                dedupe_preserving_order(
                    self._generate_path_selectors(node_id, max_length)
                )
            )
        return self._path_sel[key]

    def _generate_path_selectors(self, node_id: int, max_length: int):
        if max_length < 1:
            return
        node_sels = self.node_selectors(node_id)
        yield from node_sels
        rec = self.dom.node(node_id)
        for nsel in node_sels:
            if nsel.startswith("#"):
                continue  # id is unique already (selectors.py:221-223)
            for ancestor in rec.ancestor_ids:  # nearest first, as reference
                for asel in self.path_selectors(ancestor, max_length - 1):
                    yield f"{asel} {nsel}"
                    if ancestor == rec.parent_id:
                        yield f"{asel} > {nsel}"


def uniquely_selects(dom: PageDOM, rule: str, root_id: int,
                     node_ids: list[int]) -> bool:
    """Ordered equality with the limit+1 trick (selectors.py:59-70).

    An unparseable candidate rule is treated as not-unique (skipped), never
    an exception — one hostile attribute value must not abort training.
    """
    try:
        hits = dom.select(root_id, rule, limit=len(node_ids) + 1)
    except SelectorParseError:
        return False
    return hits == list(node_ids)


def _candidates_and_groups(targets, roots, complexity, indexes):
    """Shared front half of both verification executions: the (len, lex)-
    sorted candidate intersection and the per-root node groups."""
    if roots is None:
        roots = [(pk, PAGE_ROOT) for pk, _, _ in targets]
    doms = {pk: dom for pk, dom, _ in targets}
    if indexes is None:
        indexes = {}
    for pk in doms:
        indexes.setdefault(pk, _PageSelectorIndex(doms[pk]))

    # intersection of per-node path-selector sets (selectors.py:116-117)
    sel_sets = [
        set(indexes[pk].path_selectors(nid, complexity)) for pk, _, nid in targets
    ]
    common = set.intersection(*sel_sets) if sel_sets else set()

    # group target nodes per distinct root, order-preserving
    # (selectors.py:88: nodes_per_root)
    root_groups: dict[tuple[str, int], list[int]] = {}
    for (pk, _, nid), (rpk, rid) in zip(targets, roots):
        assert pk == rpk, "target and root must share a page"
        grp = root_groups.setdefault((rpk, rid), [])
        if has_ancestor(doms[pk], nid, rid):
            grp.append(nid)

    # rules in (length, lexicographic) order — the reference sorts by
    # length only (selectors.py:121-125) and leaves ties to set order; we
    # pin the tie for determinism under partitioning (SURVEY.md §7)
    return doms, sorted(common, key=lambda s: (len(s), s)), root_groups


SPARK_VERIFY_THRESHOLD = 512  # candidates below this verify inline (lazy
# first-hit beats a job's scheduling latency); above it the fan-out wins


def generate_unique_selectors_for_nodes(
    targets: list[tuple[str, PageDOM, int]],
    roots: list[tuple[str, int]] | None,
    complexity: int,
    indexes: dict[str, _PageSelectorIndex] | None = None,
    spark=None,
):
    """selectors.py:78-98 — yields css rule strings that uniquely select the
    given nodes under the given roots.

    ``targets`` are (page_key, dom, node_id); ``roots`` are (page_key,
    root_id) parallel to targets, or None for whole pages
    (selectors.py:84-86).  With a ``spark`` session and a candidate set of
    at least ``SPARK_VERIFY_THRESHOLD`` rules, verification fans out as a
    Spark job (J6 at scale); the yielded rule sequence is identical either
    way.
    """
    doms, ordered, root_groups = _candidates_and_groups(
        targets, roots, complexity, indexes
    )
    if spark is not None and len(ordered) >= SPARK_VERIFY_THRESHOLD:
        yield from _verify_unique_selectors_spark(spark, doms, ordered, root_groups)
        return
    for rule in ordered:
        if all(
            uniquely_selects(doms[rpk], rule, rid, nids)
            for (rpk, rid), nids in root_groups.items()
        ):
            yield rule


def _verify_unique_selectors_spark(spark, doms, ordered, root_groups):
    """J6 fan-out: verify every candidate rule in parallel.

    Page node-records (plain dataclass rows — the page's relational form)
    are broadcast once; each partition rebuilds its PageDOMs and runs the
    same ordered select-compare (limit n+1 trick) the inline path runs.
    The trade is explicit: the inline generator is lazy (stops at the
    first hit), the fan-out verifies all candidates in one job — at large
    candidate counts the parallelism dominates the wasted tail.  Passing
    rules come back ordered (len, lex), so downstream ``next(...)``
    behavior is unchanged."""
    records = {pk: dom.records for pk, dom in doms.items()}
    groups = [
        (rpk, rid, tuple(nids)) for (rpk, rid), nids in root_groups.items()
    ]
    bc = spark.sparkContext.broadcast((records, groups))

    def _verify(batches):
        import pandas as pd

        recs, grps = bc.value
        local_doms = {pk: PageDOM(r) for pk, r in recs.items()}
        for pdf in batches:
            ok = [
                all(
                    uniquely_selects(local_doms[rpk], rule, rid, list(nids))
                    for rpk, rid, nids in grps
                )
                for rule in pdf["rule"]
            ]
            yield pd.DataFrame({"rule": pdf["rule"], "ok": ok})

    n_parts = max(2, spark.sparkContext.defaultParallelism)
    rules_df = spark.createDataFrame(
        [(r,) for r in ordered], "rule string"
    ).repartition(n_parts)
    passing = {
        r.rule
        for r in rules_df.mapInPandas(_verify, "rule string, ok boolean")
        .filter("ok")
        .collect()
    }
    bc.unpersist()
    for rule in ordered:
        if rule in passing:
            yield rule
