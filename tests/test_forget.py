"""forget_urls: removing urls from the seen set rebuilds the affected bloom
shards from the exact seen set, so the urls can be crawled again and no
retained url ever probes negative."""

import pytest

from sitecheck_spark.crawl import CrawlConfig, _merge_shards, crawl, forget_urls
from sitecheck_spark.seen import BloomShard
from sitecheck_spark.sources.corpus import make_pages_pdf, make_seeds_pdf

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(make_pages_pdf(48), schema=PAGES_SCHEMA).cache()


def _cfg(**kw):
    base = dict(budget_per_host=3, max_waves=5, n_shards=4, salt_buckets=2,
                run_checkers=False)
    base.update(kw)
    return CrawlConfig(**base)


def _retained_never_forgotten(seen2, shards2):
    """Zero false negatives after forget: every retained seen url must still
    probe positive in its rebuilt shard."""
    by_shard = {r["shard"]: bytes(r["bits"]) for r in shards2.collect()}
    for r in seen2.collect():
        filt = BloomShard.from_bytes(by_shard[r["shard"]])
        assert filt.contains([r["url_hash"]]).all(), r["url"]


def test_forget_on_bloom_rebuilds(spark, pages):
    """Bloom filters cannot delete — forget_urls rebuilds the affected shard
    from the exact seen set instead, so bloom crawls are forgettable."""
    seeds = make_seeds_pdf().url.tolist()
    cfg = _cfg()
    res = crawl(spark, pages, seeds, cfg)
    shards = _merge_shards(spark, res.seen, None, cfg)
    victim = sorted(r["url"] for r in res.seen.collect())[0]
    seen2, shards2 = forget_urls(res.seen, shards, [victim], cfg)
    assert seen2.filter(seen2.url == victim).count() == 0
    # forgetting returns a new seen set; the original still holds the victim
    assert res.seen.filter(res.seen.url == victim).count() == 1
    assert shards2.count() == shards.count()
    _retained_never_forgotten(seen2, shards2)
    res.release()
