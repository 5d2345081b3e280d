"""The pages table of ``py_schemax_spark.sources.datagen``, made without Spark.

``gen_pages`` derives every value from ``xxhash64`` of literals and the
row id, with JVM expressions only. This module evaluates the same
expressions with numpy (Spark's XXH64 over int and long values, seed
42), so a run gets the package's table without paying for a JVM of its
own. ``selftest.py`` checks that ``write_pages`` here and in the package
give the same rows. The drift baseline is built as ``build_baseline``
builds it: one t-digest per ``spark.range`` partition of a clean table,
in Arrow batches of 10,000 rows, merged and turned into the quantile
grid, with the package's own t-digest functions.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from py_schemax_spark.functions.extraction import render_html_py
from py_schemax_spark.functions.tdigest import TDigest, merge_all
from py_schemax_spark.operators.drift import sketch_to_quantiles
from py_schemax_spark.sources.datagen import _EPOCH_2024, _VOCAB, LANGS

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SPARK_SEED = 42
_ARROW_BATCH = 10_000


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_int(v, seed: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64).astype(np.uint64) & np.uint64(0xFFFFFFFF)
    h = seed + _P5 + np.uint64(4)
    h = h ^ (v * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _hash_long(v, seed: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64).astype(np.uint64)
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_lit(tag: int, seed) -> np.ndarray:
    """``F.lit(tag)`` is an int when it fits 32 bits, else a long."""
    fits = -(2 ** 31) <= tag < 2 ** 31
    return (_hash_int if fits else _hash_long)(tag, seed)


def _h(tag: int, *cols: tuple[np.ndarray, bool]) -> np.ndarray:
    """``xxhash64(lit(tag), *cols)`` as a signed long; cols are
    (values, is_int) pairs."""
    with np.errstate(over="ignore"):
        h = _hash_lit(tag, np.uint64(_SPARK_SEED))
        for values, is_int in cols:
            h = (_hash_int if is_int else _hash_long)(values, h)
    return h.astype(np.int64)


def _u01(tag: int, ids: np.ndarray) -> np.ndarray:
    return np.mod(_h(tag, (ids, False)), 1_000_000) / 1_000_000.0


def gen_pages(n_rows: int, seed: int, clean: bool = False,
              words_scale: int = 1, n_domains: int = 500) -> pa.Table:
    """``datagen.gen_pages`` with its default rates."""
    rates = (0.0,) * 5 if clean else (0.005, 0.01, 0.02, 0.002, 0.001)
    dup_rate, null_rate, empty_rate, bad_lang_rate, corrupt_rate = rates
    ids = np.arange(n_rows, dtype=np.int64)
    s = seed * 1000

    is_dup = (_u01(s + 1, ids) < dup_rate) & (ids > 0)
    base = np.where(is_dup, ids - 1, ids)
    dom = np.floor(np.power(_u01(s + 2, base), 3.0) * n_domains).astype(np.int64)
    urls = [f"https://site{d}.example.com/p/{b}" for d, b in zip(dom.tolist(), base.tolist())]
    ts = _EPOCH_2024 + base * 97 + np.where(is_dup, 40_000, 0)

    n_words = (3 + np.mod(_h(s + 3, (ids, False)), 40)
               + np.where(_u01(s + 4, ids) < 0.02, 150, 0))
    row = np.repeat(ids, n_words)
    starts = np.cumsum(n_words) - n_words
    pos = np.arange(len(row), dtype=np.int64) - np.repeat(starts, n_words) + 1
    word_ix = np.mod(_h(s + 5, (row, False), (pos, True)), len(_VOCAB))
    words = np.asarray(_VOCAB, dtype=object)[word_ix]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[a:b]) for a, b in zip(starts.tolist(), ends.tolist())]
    if words_scale > 1:
        texts = [((t + " ") * words_scale).rstrip(" ") for t in texts]
    is_null = _u01(s + 6, ids) < null_rate
    is_empty = _u01(s + 7, ids) < empty_rate
    texts = [None if nl else ("" if em else t)
             for t, nl, em in zip(texts, is_null.tolist(), is_empty.tolist())]

    codes = np.asarray([c for c, _ in LANGS], dtype=object)
    langs = codes[np.mod(_h(s + 8, (ids, False)), len(LANGS))]
    langs = np.where(_u01(s + 9, ids) < bad_lang_rate, "zz", langs)
    corrupt = (_u01(s + 10, ids) < corrupt_rate).tolist()
    html = [b"\x00corrupt\x00" if c else render_html_py(t)
            for t, c in zip(texts, corrupt)]

    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
    })


def write_pages(path: str, n_rows: int, seed: int, words_scale: int = 1) -> pa.Table:
    """``datagen.write_pages``: parquet partitioned by ``day``, one file
    per day; ``warc_ts`` is stored as INT96, as Spark stores it."""
    table = gen_pages(n_rows, seed, words_scale=words_scale)
    days = pc.cast(pc.cast(table["warc_ts"], pa.timestamp("us")), pa.date32())
    for day in pc.unique(days).to_pylist():
        part = Path(path) / f"day={day.isoformat()}"
        part.mkdir(parents=True)
        pq.write_table(table.filter(pc.equal(days, pa.scalar(day, pa.date32()))),
                       part / "part-0.parquet", use_deprecated_int96_timestamps=True)
    return table


def write_baseline(path: str, n_rows: int, seed: int, words_scale: int,
                   partitions: int, compression: float = 200.0) -> None:
    """``build_baseline(gen_pages(clean=True), spec)`` for the one drift
    column of the workload spec: ``text`` on length."""
    lengths = pc.utf8_length(
        gen_pages(n_rows, seed, clean=True, words_scale=words_scale)["text"]
    ).to_numpy(zero_copy_only=False).astype("float64")
    digests = []
    bounds = [i * n_rows // partitions for i in range(partitions + 1)]
    for lo, hi in zip(bounds, bounds[1:]):
        if hi == lo:
            continue
        td = TDigest(compression)
        for b in range(lo, hi, _ARROW_BATCH):
            td.add(lengths[b:min(hi, b + _ARROW_BATCH)])
        digests.append(td)
    digest = merge_all(digests, compression)
    Path(path).mkdir(parents=True)
    pq.write_table(pa.table({
        "column_name": pa.array(["text"]),
        "quantiles": pa.array([sketch_to_quantiles(digest)], pa.list_(pa.float64())),
        "n": pa.array([int(digest.total_weight)], pa.int64()),
        "snapshot_id": pa.array(["baseline"]),
    }), f"{path}/part-0.parquet")
