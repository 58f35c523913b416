"""Seeded benchmark inputs and the oracle digests they are checked against.

Everything here is a pure function of (seed, size): the crawl corpora come
from the engine's own deterministic generator (`sources.corpus`), the query
tables from the generators of `scripts/gen_scaled_testdata.py`. Inputs and
golden digests are cached on disk under the benchmark's work directory,
keyed by every parameter that shapes them.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the crawl-side query tables (documents, events, embeddings) are generated
# at this share of their sf0.1 row counts; the TPC-H tables at sf0.1
QUERY_SCALE = 0.1


def _nation_region() -> dict[str, pa.Table]:
    """The two fixed TPC-H dimension tables, which the sf0.x generator
    script copies from the test data instead of generating."""
    return {
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int64),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int64) % 5,
        }),
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int64),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
    }


def query_tables(cache_dir: str, seed: int) -> str:
    """Directory of the ten query tables for `seed`, generated once with
    the generators of `scripts/gen_scaled_testdata.py` (the schema and
    distributions of the sf0.x test tables): TPC-H at sf0.1, documents,
    events and embeddings at QUERY_SCALE of their sf0.1 sizes."""
    from scripts import gen_scaled_testdata as gen

    out = os.path.join(cache_dir, f"tables-s{seed}-x{QUERY_SCALE}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        rng = np.random.default_rng(seed)
        n_doc, n_ev, n_users, n_emb = (
            int(n * QUERY_SCALE) for n in (5000, 100_000, 1500, 2000))
        # the generators report each table on stdout, which carries only
        # the run's result
        with contextlib.redirect_stdout(sys.stderr):
            gen.write(out, "documents", gen.gen_documents(rng, n_doc))
            gen.write(out, "events", gen.gen_events(rng, n_ev, n_users))
            emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
            gen.write(out, "embeddings", pa.table({
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_emb).astype(np.int32),
            }))
            gen.gen_tpch(rng, out, 1)
            for name, table in _nation_region().items():
                gen.write(out, name, table)
        open(done, "w").close()
    return out


def corpus(cache_dir: str, seed: int, n_pages: int, profile_name: str) -> str:
    """Parquet directory of the crawl corpus for (seed, n_pages, profile),
    written once from the engine's deterministic page generator."""
    from sitecheck_spark.sources import corpus as corpus_mod

    out = os.path.join(cache_dir, f"corpus-s{seed}-n{n_pages}-{profile_name}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        profile = getattr(corpus_mod, f"{profile_name.upper()}_PROFILE")
        pdf = corpus_mod.make_pages_pdf(n_pages, seed=seed, profile=profile)
        # Spark reads parquet timestamps at microsecond precision only
        _write_pdf(os.path.join(out, "part-0.parquet"), pdf)
        open(done, "w").close()
    return out


def dictionary(cache_dir: str) -> str:
    """The spelling dictionary as a parquet file: a plain scan, so the crawl
    reads it without a Python job."""
    from sitecheck_spark.sources.corpus import make_dictionary_pdf

    path = os.path.join(cache_dir, "dictionary.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        _write_pdf(path + ".tmp", make_dictionary_pdf())
        os.replace(path + ".tmp", path)
    return path


def _write_pdf(path: str, pdf) -> None:
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )


def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def crawl_digest(fetch_log, seen, findings) -> dict:
    """Order-sensitive digest of a crawl's observable outputs.

    fetch_log: (wave, priority, url, verb, post_data, status) in crawl
    order;
    seen: iterable of (verb, url, post_data); findings: dicts or rows with
    module/url/wave/detail/referrer. Both the golden crawler and the engine
    outputs are reduced through this one function before comparison."""
    by_module: dict[str, list] = {}
    for f in findings:
        by_module.setdefault(f["module"], []).append(
            (f["url"], f["wave"], f["detail"], f["referrer"])
        )
    return {
        "requests": len(fetch_log),
        "fetch_log": _digest(fetch_log),
        "seen": _digest(sorted(seen)),
        "findings": {m: [len(v), _digest(sorted(v))]
                     for m, v in sorted(by_module.items())},
    }


def golden_digest(cache_dir: str, corpus_dir: str, seeds: list[str],
                  crawl_kwargs: dict) -> dict:
    """Digest of the single-threaded reference crawler on the same corpus,
    computed once per (corpus, seeds, config) and cached as JSON."""
    key = hashlib.sha256(
        json.dumps([corpus_dir, seeds, crawl_kwargs], sort_keys=True).encode()
    ).hexdigest()[:16]
    path = os.path.join(cache_dir, f"golden-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)

    from sitecheck_spark.golden import golden_crawl
    from sitecheck_spark.sources.corpus import DICTIONARY, ROBOTS_BODIES

    table = pq.read_table(corpus_dir)
    rows = list(zip(*(table.column(c).to_pylist() for c in
                      ("url", "warc_ts", "html", "text", "lang"))))
    g = golden_crawl(rows, seeds, dict(ROBOTS_BODIES), set(DICTIONARY),
                     **crawl_kwargs)
    digest = crawl_digest(
        [(r["wave"], r["priority"], r["url"], r["verb"], r["post_data"],
          r["status"]) for r in g.fetch_log],
        g.seen, g.findings,
    )
    digest["waves"] = g.waves
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(digest, fh)
    os.replace(tmp, path)
    return digest
