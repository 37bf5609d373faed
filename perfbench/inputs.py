"""Seeded input generators for the benchmark workloads.

Every table is written as multi-file parquet under the run's work
directory; the program under test only ever sees those files. The same
seed gives byte-identical tables. Generation time counts toward no
metric.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from my_ocr_spark.plans.flagship import _HTML_PREFIX, _HTML_SUFFIX

N_FILES = 8
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

PAGE_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
LANGS = ["en", "zh", "fr", "es", "de"]


@dataclass
class PageTable:
    """A generated page table and the facts the output checks need."""
    path: str
    n_urls: int
    html_bytes: int
    latest_html: dict[str, bytes] = field(repr=False)
    sample_urls: list[str] = field(repr=False)


def load_gen_sf(repo_root: str):
    """The repository's own sf-directory generator (scripts/gen_sf.py)."""
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(repo_root, "scripts", "gen_sf.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def paragraphize(words: list[str]) -> str:
    """The synthesize_cc_docs body: a paragraph break after every ten
    words that are followed by another word."""
    parts = []
    for i in range(0, len(words), 10):
        chunk = words[i:i + 10]
        if len(chunk) == 10 and i + 10 < len(words):
            parts.append(" ".join(chunk) + " </p><p>")
        else:
            parts.append(" ".join(chunk))
    return "".join(parts)


def page(body: str) -> bytes:
    return (_HTML_PREFIX + body + _HTML_SUFFIX).encode("utf-8")


def _is_sampled(url: str, every: int) -> bool:
    return zlib.crc32(url.encode()) % every == 0


def _write_pages(path: str, rows: list[tuple], rng: np.random.Generator
                 ) -> None:
    """Rows (url, ts_us, html, text, lang) in seeded order, N_FILES files."""
    os.makedirs(path, exist_ok=True)
    order = rng.permutation(len(rows))
    for k, part in enumerate(np.array_split(order, N_FILES)):
        sel = [rows[i] for i in part]
        cols = list(zip(*sel)) if sel else [[]] * 5
        tbl = pa.Table.from_arrays(
            [pa.array(cols[0], pa.string()),
             pa.array(cols[1], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
             pa.array(cols[2], pa.binary()),
             pa.array(cols[3], pa.string()),
             pa.array(cols[4], pa.string())], schema=PAGE_SCHEMA)
        pq.write_table(tbl, os.path.join(path, f"part-{k:03d}.parquet"))


def thin_pages(path: str, seed: int, vocab: list[str], n_urls: int,
               old_frac: float = 0.2, dup_frac: float = 0.05,
               sample_every: int = 500) -> PageTable:
    """~0.9 KB synthesize_cc_docs-style pages: one latest snapshot per
    url, plus ``old_frac`` older snapshots of existing urls (different
    text, earlier warc_ts), with ``dup_frac`` of the urls carrying the
    exact text of another url."""
    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(10, 101, n_urls)
    word_idx = rng.integers(0, len(vocab), int(n_words.sum()))
    texts, pos = [], 0
    for k in n_words:
        texts.append([vocab[j] for j in word_idx[pos:pos + k]])
        pos += int(k)
    dup_src = rng.integers(0, n_urls, n_urls)
    is_dup = rng.random(n_urls) < dup_frac
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[dup_src[i]]
    langs = rng.integers(0, len(LANGS), n_urls)
    srcs = rng.integers(0, 20, n_urls)
    ts = TS0_US + rng.integers(86_400, 30 * 86_400, n_urls) * 1_000_000
    rows, latest = [], {}
    for i in range(n_urls):
        url = f"https://src{srcs[i]}.example/p/{seed}-{i}"
        html = page(paragraphize(texts[i]))
        latest[url] = html
        rows.append((url, int(ts[i]), html, " ".join(texts[i]),
                     LANGS[langs[i]]))
    old = np.flatnonzero(rng.random(n_urls) < old_frac)
    for i in old:
        words = [vocab[j] for j in rng.integers(0, len(vocab),
                                                 int(n_words[i]))]
        back = int(rng.integers(1, 86_400)) * 1_000_000
        rows.append((rows[i][0], rows[i][1] - back,
                     page(paragraphize(words)), " ".join(words),
                     rows[i][4]))
    _write_pages(path, rows, rng)
    return PageTable(
        path=path, n_urls=n_urls,
        html_bytes=sum(len(r[2]) for r in rows),
        latest_html=latest,
        sample_urls=sorted(u for u in latest if _is_sampled(u, sample_every)))


def probe_pages(vocab) -> tuple[list[bytes], list[bytes]]:
    """Fixed kernel-probe samples (independent of the run's seed)."""
    thin = [page(paragraphize(
        [vocab[(i * 7 + j * 3) % len(vocab)] for j in range(10 + i % 90)]))
        for i in range(200)]
    fat = []
    for i, size in enumerate((15_000, 60_000, 200_000, 1_000_000)):
        unit = paragraphize(
            [vocab[(i + j) % len(vocab)] for j in range(200)]) + " </p><p>"
        fat.append(page(unit * max(1, size // len(unit))))
    return thin, fat


def sf_dir(gen_sf, path: str, seed: int, sf: float) -> str:
    """scripts/gen_sf.py's gen() under the benchmark seed (its tables are
    seeded from the module constant SEED)."""
    gen_sf.SEED = seed
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.gen(sf, path)
    return path
