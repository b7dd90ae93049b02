"""Per-layer measurements taken from outside the engine: direct timed
calls into single-layer public functions, and counts read from the
index files a build leaves behind."""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from org_rdkit_lucene_spark.functions.codecs import decode_ints_many, varbyte_encode_segmented
from org_rdkit_lucene_spark.functions.tokenizer import tokenize_flat_arrow_ascii, tokenize_texts

BUILD_STAGES = ("docmap", "flat_runs", "docmeta", "lexicon", "postings")


def _median_rate(fn, mb: float, reps: int = 3) -> float:
    """Median MB/s over ``reps`` timed calls of ``fn``."""
    rates = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        rates.append(mb / max(time.perf_counter() - t, 1e-9))
    return statistics.median(rates)


def tokenizer_rates(texts: pd.Series, sample_mb: float = 1.5) -> dict[str, float]:
    """MB/s of the Arrow fast path (ASCII docs) and the canonical
    pandas tokenizer (all docs) on a prefix of the workload's content."""
    sizes = texts.str.len().to_numpy()
    n = int(np.searchsorted(np.cumsum(sizes), sample_mb * 1e6)) + 1
    sample = texts.iloc[:n].reset_index(drop=True)
    ascii_docs = sample[sample.map(str.isascii)].reset_index(drop=True)
    mb_all = sample.str.len().sum() / 1e6
    mb_ascii = ascii_docs.str.len().sum() / 1e6
    return {
        "tokenizer.arrow_mb_per_s": _median_rate(lambda: tokenize_flat_arrow_ascii(ascii_docs), mb_ascii),
        "tokenizer.pandas_mb_per_s": _median_rate(lambda: tokenize_texts(sample), mb_all),
    }


def read_postings(index_dir: str, terms: list[str] | None = None) -> pd.DataFrame:
    tbl = pq.read_table(
        os.path.join(index_dir, "postings.parquet"),
        columns=["term", "n", "doc_bytes"],
        filters=[("term", "in", terms)] if terms else None,
    )
    return tbl.to_pandas()


def codec_rates(index_dir: str, terms: list[str]) -> dict[str, float]:
    """Decode MB/s (``decode_ints_many``) over the real doc-gap blocks of
    ``terms``, and encode MB/s (``varbyte_encode_segmented``) of the
    same values back into blocks."""
    blocks = read_postings(index_dir, terms)
    bufs = list(blocks["doc_bytes"])
    if not bufs:
        return {"codecs.decode_mb_per_s": 0.0, "codecs.encode_mb_per_s": 0.0}
    mb = sum(len(b) for b in bufs) / 1e6
    values, counts = decode_ints_many(bufs)
    return {
        "codecs.decode_mb_per_s": _median_rate(lambda: decode_ints_many(bufs), mb),
        "codecs.encode_mb_per_s": _median_rate(lambda: varbyte_encode_segmented(values, counts), mb),
    }


def _rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _bytes(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files)


def build_artifacts(index_dir: str, input_bytes: int) -> dict[str, float]:
    """Stage seconds from the build's own ``metrics.parquet`` plus counts
    of what it wrote."""
    m = pq.read_table(os.path.join(index_dir, "metrics.parquet")).to_pandas()
    out = {f"build.{s}_s": float(m.loc[m["stage"] == s, "seconds"].sum()) for s in BUILD_STAGES}
    hot = m.loc[m["stage"] == "postings", "detail"]
    out["build.hot_terms"] = float(hot.iloc[0]) if len(hot) else 0.0
    out["build.flat_rows"] = float(_rows(os.path.join(index_dir, "flat")))
    out["build.postings_blocks"] = float(_rows(os.path.join(index_dir, "postings.parquet")))
    out["build.lexicon_terms"] = float(_rows(os.path.join(index_dir, "lexicon.parquet")))
    index_bytes = sum(
        _bytes(os.path.join(index_dir, f"{name}.parquet"))
        for name in ("docmap", "docmeta", "lexicon", "postings")
    )
    out["build.index_bytes_per_input_byte"] = index_bytes / max(input_bytes, 1)
    return out
