"""Deterministic synthetic Common-Crawl-style `web_pages` table.

Schema per BASELINE.json input_hint:
    (url string, warc_ts timestamp, html binary, text string, lang string)

Every value is a pure vectorized function of the row id (splitmix64-style
hashing), so the table is identical for any partitioning / parallelism /
retry — the determinism the checkpoint layer depends on.  Properties the
codecs must face (FIXTURES.md §A):

  url      — https://{host}/{section}/{yyyy}/{mm}/{slug}-{id}; hosts Zipfian
             (hot domains => skew for the salting path), shared prefixes
             (FSST-friendly)
  warc_ts  — crawl sessions: mostly-increasing with small deltas and
             occasional jumps (delta+FOR+bitpack wins)
  html     — pseudo-HTML wrapping of text (binary, log-normal-ish length)
  text     — slices of a fixed seeded word corpus (byte-identical
             round-trip is the per-row invariant)
  lang     — ~20 values, heavily skewed to "en" (DICT/RLE wins)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from nem_mms_spark.worker import drop_archive_importers

N_HOSTS = 512
N_LANGS = 20
_CORPUS_WORDS = 1 << 16
_BASE_TS_US = 1_627_776_000_000_000  # 2021-08-01T00:00:00Z in epoch micros

_LANGS = np.array(
    "en en en en en en en en de fr es zh ru pt it ja nl pl tr ko".split()
)

_SECTIONS = np.array(
    "news articles blog world sports tech science opinion culture archive".split()
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _h(ids: np.ndarray, k: int) -> np.ndarray:
    """Per-row 64-bit hash stream k."""
    kk = np.uint64((k * 0xD1B54A32D192ED03) & 0xFFFFFFFFFFFFFFFF)
    return _splitmix64(ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) ^ kk)


def _u01(ids: np.ndarray, k: int) -> np.ndarray:
    return _h(ids, k).astype(np.float64) / np.float64(2**64)


def _zipf_cdf(n: int, s: float = 1.07) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    c = np.cumsum(w)
    return c / c[-1]


_HOST_CDF = _zipf_cdf(N_HOSTS)
_LANG_CDF = _zipf_cdf(N_LANGS, 1.5)


def _corpus() -> np.ndarray:
    """Fixed seeded word corpus (vocabulary ~ natural-ish frequencies)."""
    rng = np.random.default_rng(20210801)
    vocab_sizes = rng.integers(2, 11, size=4096)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(letters[rng.integers(0, 26, size=s)]) for s in vocab_sizes]
    )
    # Zipfian word draw -> corpus of space-joined words
    cdf = _zipf_cdf(len(vocab), 1.1)
    draws = np.searchsorted(cdf, rng.random(_CORPUS_WORDS))
    return vocab[draws]


_WORDS = _corpus()
_CORPUS_TEXT = " ".join(_WORDS.tolist())
_WORD_STARTS = np.concatenate(
    [[0], np.flatnonzero(np.frombuffer(_CORPUS_TEXT.encode(), dtype=np.uint8) == 32) + 1]
)


def generate_pages(ids: np.ndarray) -> pd.DataFrame:
    """Pure function row-id array -> web_pages pandas frame."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    if n == 0:
        return pd.DataFrame(
            {"url": pd.Series([], dtype=object), "warc_ts": pd.Series([], dtype="datetime64[us]"),
             "html": pd.Series([], dtype=object), "text": pd.Series([], dtype=object),
             "lang": pd.Series([], dtype=object)}
        )

    host_idx = np.searchsorted(_HOST_CDF, _u01(ids, 1))
    lang_idx = np.searchsorted(_LANG_CDF, _u01(ids, 2))
    section = _SECTIONS[_h(ids, 3) % len(_SECTIONS)]
    month = (_h(ids, 4) % 12 + 1).astype(np.int64)

    # text: corpus slice per row; log-normal-ish token count
    z = np.sqrt(-2.0 * np.log(1.0 - _u01(ids, 5))) * np.cos(
        2 * np.pi * _u01(ids, 6)
    )
    n_tokens = np.clip(np.exp(4.0 + 0.9 * z), 8, 2000).astype(np.int64)
    start_word = (_h(ids, 7) % (_CORPUS_WORDS - 2001)).astype(np.int64)
    starts = _WORD_STARTS[start_word]
    ends = _WORD_STARTS[start_word + n_tokens] - 1  # drop trailing space
    texts = np.array([_CORPUS_TEXT[s:e] for s, e in zip(starts, ends)], dtype=object)

    slug_words = _WORDS[_h(ids, 8) % len(_WORDS)]
    hosts = np.char.add(
        np.char.add("www.", np.char.add("site", host_idx.astype("U5"))), ".example.org"
    )
    urls = pd.Series(
        np.char.add(
            np.char.add(np.char.add("https://", hosts), "/"),
            np.char.add(
                np.char.add(section.astype("U16"), "/2021/"),
                np.char.add(
                    np.char.add(np.char.mod("%02d", month), "/"),
                    np.char.add(np.char.add(slug_words.astype("U16"), "-"), ids.astype("U20")),
                ),
            ),
        ),
        dtype=object,
    )

    # crawl-session timestamps: sessions of ~4096 docs, small in-session
    # deltas, occasional jump between sessions
    session = ids // 4096
    in_session = ids % 4096
    ts_us = (
        _BASE_TS_US
        + session * 3_600_000_000
        + in_session * 250_000
        + (_h(ids, 9) % 200_000).astype(np.int64)
    )

    lang = pd.Series(_LANGS[lang_idx], dtype=object)
    text_s = pd.Series(texts, dtype=object)
    title = pd.Series(slug_words, dtype=object)
    html = (
        "<html><head><title>" + title + "</title></head><body><p>"
        + text_s.str.replace(" ", " </p><p>", regex=False)
        + "</p></body></html>"
    ).str.encode("utf-8")

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(ts_us).astype("datetime64[us]"),
            "html": html,
            "text": text_s,
            "lang": lang,
        }
    )


WEB_PAGES_SCHEMA = "url string, warc_ts timestamp_ntz, html binary, text string, lang string"


def web_pages_df(spark, n_rows: int, num_partitions: int | None = None):
    """Distributed deterministic generation: spark.range -> mapInPandas."""
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        drop_archive_importers()
        for pdf in batches:
            yield generate_pages(pdf["id"].to_numpy())

    return (
        spark.range(0, n_rows, numPartitions=num_partitions)
        .mapInPandas(gen, schema=WEB_PAGES_SCHEMA)
    )
