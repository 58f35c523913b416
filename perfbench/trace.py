"""Per-layer measurements, taken from outside the engine.

Two sources, neither of which adds code inside `sitecheck_spark/`:

- Spark's own stage and job records, read from the UI's REST API after each
  operation and summed by the `callSite.short` label the crawl puts on its
  jobs when `CrawlConfig(phase_labels=True)`
  (`sitecheck_spark.plans.stagemetrics.stage_aggregates`).
- Direct timed calls into the pure-Python functions the crawl's Python
  stages run: page parsing, URL canonicalisation, checkers, the Bloom shard
  of the seen set and the robots gate.
"""

from __future__ import annotations

import datetime as dt
import statistics
import time
from contextlib import contextmanager

import numpy as np

from sitecheck_spark.plans.stagemetrics import (
    _api, completed_stage_ids, stage_aggregates,
)

# callSite.short label -> layer metric prefix. The ckpt_seen job is labelled
# by whether the wave compacts the seen set; both are the seen checkpoint.
CRAWL_LABELS = {
    "wave_elect": "crawl.wave_elect",
    "wave_fetch_parse": "crawl.wave_fetch_parse",
    "wave_probe_gate": "crawl.wave_probe_gate",
    "ckpt_frontier": "crawl.ckpt_frontier",
    "ckpt_seen_delta": "crawl.ckpt_seen",
    "ckpt_seen_full": "crawl.ckpt_seen",
    "ckpt_shards": "crawl.ckpt_shards",
    "ckpt_fetch_log": "crawl.ckpt_fetch_log",
    "ckpt_findings": "crawl.ckpt_findings",
}
# the label the benchmark puts on the catalog commit's jobs
COMMIT_LABEL = "perfbench_catalog_commit"

CRAWL_METRICS = {
    "crawl.wave_elect.task_s": "s",
    "crawl.wave_elect.stages": "count",
    "crawl.wave_fetch_parse.task_s": "s",
    "crawl.wave_fetch_parse.shuffle_mb": "MB",
    "crawl.wave_probe_gate.task_s": "s",
    "crawl.wave_probe_gate.input_mb": "MB",
    "crawl.ckpt_findings.task_s": "s",
    "crawl.ckpt_findings.input_mb": "MB",
    "crawl.ckpt_frontier.task_s": "s",
    "crawl.ckpt_seen.task_s": "s",
    "crawl.ckpt_shards.task_s": "s",
    "crawl.ckpt_fetch_log.task_s": "s",
    "crawl.driver_gap_s_per_wave": "s",
    "crawl.stages_per_wave": "count",
    "crawl.jobs_per_wave": "count",
    "crawl.tasks_per_wave": "count",
    "crawl.prelude_task_s": "s",
    "crawl.unlabeled_task_s": "s",
    "catalog.resume_s": "s",
    "catalog.resume_task_s": "s",
    "catalog.commit_s_per_wave": "s",
    "catalog.commit_task_s": "s",
    "catalog.bytes_per_wave": "B",
    "catalog.files_per_wave": "count",
    "extract.parse_ms_per_page": "ms",
    "urls.canonicalize_us": "us",
    "checkers.findings_per_page": "count",
    "seen.bloom_probe_ns": "ns",
    "seen.bloom_fp_rate": "ratio",
    "robots.allowed_us": "us",
}


def _epoch(stamp: str) -> float:
    # REST timestamps look like 2026-01-01T12:00:00.123GMT
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class StageWindow:
    """The stages and jobs that completed between `open()` and `close()`.

    The UI's status store is fed asynchronously by the listener bus, so
    `close()` waits until nothing is active and the completed counts stop
    changing before it reads."""

    def __init__(self, spark):
        self.spark = spark
        self._stages: set[int] = set()
        self._jobs: set[int] = set()

    def open(self) -> None:
        self._settle()
        self._stages = completed_stage_ids(self.spark)
        self._jobs = {j["jobId"] for j in _api(self.spark, "/jobs")}

    def _settle(self, timeout: float = 10.0) -> None:
        last = None
        deadline = time.time() + timeout
        while time.time() < deadline:
            stages = _api(self.spark, "/stages")
            active = sum(s["status"] == "ACTIVE" for s in stages)
            done = sum(s["status"] == "COMPLETE" for s in stages)
            if not active and done == last:
                return
            last = done
            time.sleep(0.1)

    def close(self) -> dict:
        self._settle()
        exclude = self._stages
        stages = [s for s in _api(self.spark, "/stages?status=complete")
                  if s["stageId"] not in exclude]
        jobs = [j for j in _api(self.spark, "/jobs") if j["jobId"] not in self._jobs]
        return {
            "labels": stage_aggregates(self.spark, exclude_ids=exclude),
            "stages": [(s["name"], _epoch(s["submissionTime"]),
                        _epoch(s["completionTime"]), s.get("executorRunTime", 0) / 1e3)
                       for s in stages
                       if s.get("submissionTime") and s.get("completionTime")],
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "jobs": len(jobs),
        }


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class CrawlLayers:
    """Accumulates per-wave layer figures over the measured crawl calls."""

    def __init__(self):
        self.waves = 0
        self.sums: dict[str, float] = {}
        self.commit_s = 0.0
        self.resume: dict[str, float] = {}
        self.wave_start: float | None = None  # set by crawl_hooks

    def _add(self, key: str, value: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + value

    def add(self, window: dict, t0: float, t1: float, waves: int) -> None:
        """Book one crawl() call that ran `waves` waves in [t0, t1]."""
        self.waves += waves
        for agg in window["labels"]:
            prefix = CRAWL_LABELS.get(agg["name"])
            if agg["name"] == COMMIT_LABEL:
                self._add("catalog.commit_task_s", agg["task_time_ms"] / 1e3)
            elif prefix:
                self._add(f"{prefix}.task_s", agg["task_time_ms"] / 1e3)
                self._add(f"{prefix}.stages", agg["n_stages"])
                self._add(f"{prefix}.shuffle_mb", agg["shuffle_write_mb"])
                self._add(f"{prefix}.input_mb", agg["input_mb"])
        # unlabelled stages (broadcasts run on their own threads, jobs the
        # crawl does not label) are split at the call's first election
        start = self.wave_start or t1
        self.wave_start = None
        for name, submitted, _done, run_s in window["stages"]:
            if name not in CRAWL_LABELS and name != COMMIT_LABEL:
                self._add("crawl.prelude_task_s" if submitted < start
                          else "crawl.unlabeled_task_s", run_s)
        covered = covered_seconds([(a, b) for _n, a, b, _r in window["stages"]], t0, t1)
        self._add("crawl.driver_gap_s_per_wave", (t1 - t0) - covered)
        self._add("crawl.stages_per_wave", len(window["stages"]))
        self._add("crawl.tasks_per_wave", window["tasks"])
        self._add("crawl.jobs_per_wave", window["jobs"])
        self._add("catalog.commit_s_per_wave", self.commit_s)
        self.commit_s = 0.0

    def add_resume(self, window: dict, wall_s: float) -> None:
        """Book the call that resumes from the catalog without a wave."""
        self.resume = {
            "catalog.resume_s": wall_s,
            "catalog.resume_task_s": sum(run_s for *_x, run_s in window["stages"]),
        }

    def metrics(self, catalog_bytes: int, catalog_files: int) -> dict[str, float]:
        n = max(self.waves, 1)
        out = {k: self.sums.get(k, 0.0) / n for k in CRAWL_METRICS
               if k.startswith(("crawl.", "catalog."))}
        out.update(self.resume)
        out["catalog.bytes_per_wave"] = catalog_bytes / n
        out["catalog.files_per_wave"] = catalog_files / n
        return out


@contextmanager
def crawl_hooks(layers: CrawlLayers, sc):
    """Wrap the two crawl entry points the layers need timed from outside:
    the catalog commit (timed, and its jobs labelled) and the election
    (its first call marks where a crawl() call's waves begin)."""
    from sitecheck_spark import crawl as crawl_mod
    from sitecheck_spark.sources.catalog import WaveCatalog

    commit, elect = WaveCatalog.commit_wave, crawl_mod._elect

    def timed_commit(self, *a, **kw):
        sc.setLocalProperty("callSite.short", COMMIT_LABEL)
        t = time.perf_counter()
        try:
            return commit(self, *a, **kw)
        finally:
            layers.commit_s += time.perf_counter() - t
            sc.setLocalProperty("callSite.short", None)

    def marked_elect(*a, **kw):
        if layers.wave_start is None:
            layers.wave_start = time.time()
        return elect(*a, **kw)

    WaveCatalog.commit_wave, crawl_mod._elect = timed_commit, marked_elect
    try:
        yield
    finally:
        WaveCatalog.commit_wave, crawl_mod._elect = commit, elect


def _per_call(fn, n_calls: int, min_s: float = 0.2) -> float:
    """Median seconds per call of `fn()` (which makes `n_calls` calls),
    over five repeats each lasting at least `min_s`."""
    samples = []
    for _ in range(5):
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            el = time.perf_counter() - t0
            if el >= min_s:
                break
        samples.append(el / (reps * n_calls))
    return statistics.median(samples)


def python_layers(pages_pdf, seed: int, n_sample: int = 200) -> dict[str, float]:
    """Timed direct calls into the crawl's pure-Python functions over a
    seeded sample of the corpus pages."""
    import pandas as pd

    from sitecheck_spark import robots
    from sitecheck_spark.checkers import (
        find_emails, find_sensitive_comments, meta_issues, misspelling_details,
    )
    from sitecheck_spark.extract import parse_page, parse_pages_batch
    from sitecheck_spark.functions.urls import canonicalize, netloc_of
    from sitecheck_spark.seen import BloomShard
    from sitecheck_spark.sources.corpus import DICTIONARY, ROBOTS_BODIES

    html_pages = pages_pdf[~pages_pdf.url.str.endswith("robots.txt")]
    sample = html_pages.sample(n=min(n_sample, len(html_pages)), random_state=seed)
    batch = pd.DataFrame({
        "url": sample.url.values, "netloc": [netloc_of(u) for u in sample.url],
        "wave": 0, "depth": 0, "priority": 0.0, "referrer": "", "redirects": 0,
        "verb": "GET", "post_data": "", "html": sample.html.values,
    })
    n = len(batch)
    parse_s = _per_call(lambda: list(parse_pages_batch([batch])), n)

    parsed = [parse_page(h) for h in sample.html]
    words = set(DICTIONARY)
    findings = sum(
        len(misspelling_details(p["text"], words)) + len(find_emails(p["text"]))
        + len(find_sensitive_comments(p["comments"]))
        + len(meta_issues(p["title"], p["meta_description"]))
        for p in parsed
    )

    urls = list(sample.url)
    canon_s = _per_call(lambda: [canonicalize(u) for u in urls], len(urls))
    rules = [(ROBOTS_BODIES.get(netloc_of(u)), u) for u in urls]
    robots_s = _per_call(lambda: [robots.allowed(r, u) for r, u in rules], len(rules))

    # one crawl-sized shard (the engine's default geometry), loaded to the
    # seen-set size of a long crawl, probed with as many absent keys
    rng = np.random.default_rng(seed)
    keys = rng.integers(-2**63, 2**63 - 1, 20_000, dtype=np.int64)
    shard = BloomShard(1 << 17, 7)
    shard.add(keys[:10_000])
    absent = keys[10_000:]
    probe_s = _per_call(lambda: shard.contains(absent), len(absent))
    fp_rate = float(shard.contains(absent).mean())

    return {
        "extract.parse_ms_per_page": parse_s * 1e3,
        "urls.canonicalize_us": canon_s * 1e6,
        "checkers.findings_per_page": findings / len(parsed),
        "seen.bloom_probe_ns": probe_s * 1e9,
        "seen.bloom_fp_rate": fp_rate,
        "robots.allowed_us": robots_s * 1e6,
    }
