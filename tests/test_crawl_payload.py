"""End-to-end north-star flow: train a scraper from examples, crawl, apply
the trained plan + image extraction per epoch, validate payload rows."""
import json

from mlscraper_spark.crawl.engine import (
    CrawlConfig,
    read_extractions,
    read_fetch_log,
    read_images,
    run_crawl,
)
from mlscraper_spark.crawl.synthweb import (
    WebConfig,
    author_for,
    captions_for,
    fetch,
    parse_page_url,
)
from mlscraper_spark.training.samples import Sample, SamplePage, TrainingSet
from mlscraper_spark.training.train import train_scraper

WEB = WebConfig(n_hosts=8, max_pages_per_host=12)


def _trained_plan():
    """Train on two synthetic pages (example-driven, reference semantics)."""
    ts = TrainingSet()
    for url in ["http://host0.test/page/0", "http://host1.test/page/1"]:
        _, html = fetch(url, WEB)
        i, j = parse_page_url(url, WEB)
        ts.add_sample(Sample(SamplePage(url, html), author_for(i, j)))
    return train_scraper(ts)


def test_payload_backfill_on_resume(spark, tmp_path):
    """A kill between an epoch's manifest and its payload stages must heal
    on resume: delete one epoch's extractions dir and re-run."""
    import shutil

    plan = _trained_plan()
    root = str(tmp_path / "backfill_crawl")
    cfg = CrawlConfig(budget_per_host=2)
    run_crawl(spark, root, WEB.seeds(2), WEB, cfg, max_epochs=2,
              scraper_plan=plan)
    before = {
        (r.url_canon, r.value_json)
        for r in read_extractions(spark, root).collect()
    }
    shutil.rmtree(f"{root}/snap_00002/extractions")  # simulate the kill
    run_crawl(spark, root, WEB.seeds(2), WEB, cfg, max_epochs=2,
              scraper_plan=plan)
    after = {
        (r.url_canon, r.value_json)
        for r in read_extractions(spark, root).collect()
    }
    assert after == before


def test_trained_plan_applied_over_crawl(spark, tmp_path):
    plan = _trained_plan()
    assert plan["type"] == "dict"

    root = str(tmp_path / "payload_crawl")
    run_crawl(spark, root, WEB.seeds(3), WEB, CrawlConfig(budget_per_host=2),
              max_epochs=3, scraper_plan=plan, emit_images=True)

    fetched = {
        r.url_canon
        for r in read_fetch_log(spark, root).filter("status = 200").collect()
    }
    assert fetched

    # every fetched page's extraction equals the generator's ground truth
    extractions = {
        r.url_canon: json.loads(r.value_json)
        for r in read_extractions(spark, root).collect()
    }
    assert set(extractions) == fetched
    for url, value in extractions.items():
        i, j = parse_page_url(url, WEB)
        assert value == author_for(i, j), url

    # image rows: exact caption equality + attribute-sourced dimensions
    images = {r.image_id: r for r in read_images(spark, root).collect()}
    n_expected = 0
    for url in fetched:
        i, j = parse_page_url(url, WEB)
        if j >= 10_000:
            continue  # private pages carry no gallery links but do have imgs
        for im in captions_for(i, j, WEB):
            n_expected += 1
            got = images[im["src"]]
            assert got.caption == im["caption"]
            assert (got.w, got.h) == (im["w"], im["h"])


def _payload_rows(spark, root):
    """(fetch log, extractions, images) of a crawl root, as sorted lists."""
    log = sorted(tuple(r) for r in read_fetch_log(spark, root).collect())
    ext = sorted(tuple(r) for r in read_extractions(spark, root).collect())
    img = sorted(
        (r.image_id, bytes(r.bytes), r.w, r.h, r.fmt, r.caption, r.phash)
        for r in read_images(spark, root).collect()
    )
    return log, ext, img


def test_payload_extracted_through_fetch_adapter(spark, tmp_path):
    """The payload comes from the pages the adapter served — in the epoch
    and in the resume backfill — never from a refetch of the synthetic
    web behind the adapter's back."""
    import shutil

    from mlscraper_spark.crawl.fetchers import SynthWebAdapter

    class RewritingAdapter(SynthWebAdapter):
        def fetch(self, url):  # noqa: D102 — test shim
            status, body = super().fetch(url)
            if status == 200:
                body = body.replace(b'class="author-title">',
                                    b'class="author-title">Adapter ')
            return status, body

    plan = _trained_plan()
    root = str(tmp_path / "adapter_payload")
    cfg = CrawlConfig(budget_per_host=2)

    def crawl():
        run_crawl(spark, root, WEB.seeds(2), WEB, cfg, max_epochs=2,
                  scraper_plan=plan, fetch_adapter=RewritingAdapter(WEB))
        return {r.url_canon: json.loads(r.value_json)
                for r in read_extractions(spark, root).collect()}

    def want(url):
        author = dict(author_for(*parse_page_url(url, WEB)))
        author["name"] = "Adapter " + author["name"]
        return author

    got = crawl()
    assert got and all(v == want(u) for u, v in got.items())
    shutil.rmtree(f"{root}/snap_00002/extractions")  # resume backfills it
    assert crawl() == got


def test_payload_commits_with_epoch(spark, tmp_path):
    """A failed payload write fails the epoch before its manifest exists,
    and a rerun yields exactly the uninterrupted crawl's tables."""
    import os

    import pytest

    from mlscraper_spark.crawl.engine import _manifest_path
    from mlscraper_spark.tables import ParquetSnapshotFormat, use_table_format

    class FailingImagesFormat(ParquetSnapshotFormat):
        def write(self, df, path, mode="overwrite"):
            if os.path.basename(path) == "images":
                raise RuntimeError("injected images write failure")
            super().write(df, path, mode)

    plan = _trained_plan()
    cfg = CrawlConfig(budget_per_host=2)

    def crawl(root):
        run_crawl(spark, root, WEB.seeds(2), WEB, cfg, max_epochs=2,
                  scraper_plan=plan, emit_images=True)

    killed = str(tmp_path / "killed")
    with use_table_format(FailingImagesFormat()):
        with pytest.raises(RuntimeError, match="injected"):
            crawl(killed)
    assert os.path.exists(_manifest_path(killed, -1))
    assert not os.path.exists(_manifest_path(killed, 0))
    crawl(killed)
    clean = str(tmp_path / "clean")
    crawl(clean)
    got, want = _payload_rows(spark, killed), _payload_rows(spark, clean)
    assert all(want) and got == want
