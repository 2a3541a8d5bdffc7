"""Partitioned Bloom filters for incremental exact dedup at ingest.

The production pattern for "which of these batch docs has the corpus
seen before" at 100 TB: a plain anti-join probes the batch against a
corpus-sized fingerprint index every time -- a shuffle whose right
side is the whole corpus.  A Bloom filter front-end answers
"definitely new" for most of a mostly-novel batch from a compact bit
index (~10 bits/key at 1% FPP vs 16-byte fingerprints), so only the
maybe-seen sliver reaches the exact join.  Bloom hits are VERIFIED
exactly; bloom misses are certainly new (no false negatives) -- the
filter accelerates, it never decides, so results are byte-identical
to the plain anti-join.

Scale design:
- The index is PARTITIONED by fingerprint bucket: one bloom per
  bucket row in a small DataFrame/parquet table, so no single
  monolithic bitarray has to fit anywhere (a 10^11-key corpus at 10
  bits/key is ~125 GB of bloom -- broadcastable never, per-bucket
  rows trivially).  Buckets are pmod(xxhash64(text), n_buckets):
  both build and probe shuffle on the bucket key only.
- Build: one groupBy(bucket).applyInPandas pass over the corpus
  fingerprints; each task sizes its own bitarray from ITS group size
  (bits_per_key), so skewed buckets just get bigger blooms.
- Probe: batch.cogroup(bloom).applyInPandas -- the bloom bytes cross
  Arrow ONCE per bucket group, never per batch row (a join would
  attach the multi-MB blob to every row).
- Membership hashing is the standard double-hash scheme
  (h1 + i*h2 mod m, ``sidecars.bloom_positions`` -- the kernel the
  per-file Bloom sidecars share) over two independent xxhash64
  seeds, computed JVM-side; the Python kernel only does vectorized
  numpy bit math.

Reference: the reference dedups by re-loading and comparing full
tables (jobs/csr_etl.py delete-then-insert); this is the Spark-first
streaming-ingest upgrade.  Bloom parameters follow the standard
formulas (k = ln2 * bits_per_key).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves stringized hints
from pyspark.sql import DataFrame, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
    bloom_positions,
)

_FP = "__fp1"     # primary 64-bit fingerprint (also the bucket source)
_FP2 = "__fp2"    # independent second hash for double hashing
_BUCKET = "__bucket"

BLOOM_SCHEMA = ("bucket int, m_bits bigint, n_hashes int, "
                "n_keys bigint, n_buckets int, bits_per_key int, "
                "bits binary")


def _check_bloom_config(bloom: DataFrame, n_buckets: int) -> None:
    """Fail loudly if the caller's ``n_buckets`` differs from the one
    the index was built with: bucketing is part of the hash -- a
    mismatched probe consults the WRONG bloom (or none) and its
    False is no longer definitive, silently re-admitting seen docs.
    Checked up front via one row (a per-group check could miss it:
    a bucket with batch rows but no bloom row never sees the index's
    config)."""
    row = bloom.select("n_buckets").first()
    if row is not None and row["n_buckets"] != n_buckets:
        raise ValueError(
            f"bloom index was built with n_buckets={row['n_buckets']} "
            f"but is being used with n_buckets={n_buckets}; bucketing "
            f"is part of the hash, so this would produce silent false "
            f"negatives -- pass the index's own n_buckets")


def _fingerprinted(df: DataFrame, text_col: str,
                   n_buckets: int) -> DataFrame:
    """Attach (fp1, fp2, bucket) -- all JVM-side expressions."""
    c = F.col(text_col)
    return (df.withColumn(_FP, F.xxhash64(c))
              .withColumn(_FP2, F.xxhash64(c, F.lit(1)))
              .withColumn(_BUCKET,
                          F.pmod(F.col(_FP), F.lit(n_buckets))
                           .cast("int")))


def bloom_build(corpus: DataFrame, text_col: str = "text",
                n_buckets: int = 64,
                bits_per_key: int = 10) -> DataFrame:
    """One bloom row per fingerprint bucket: (bucket, m_bits,
    n_hashes, n_keys, bits).  Distinct fingerprints first (duplicate
    corpus texts are one key), then one shuffle on the bucket key;
    each task sizes its bitarray from its own group (skew just means
    a proportionally bigger bloom, never a hot task OOM: bits are
    1/128th of the fingerprints the task already received)."""
    n_hashes = max(1, round(math.log(2) * bits_per_key))

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        fp1 = pdf[_FP].to_numpy(np.uint64)
        fp2 = pdf[_FP2].to_numpy(np.uint64)
        m_bits = max(64, int(len(fp1) * bits_per_key))
        bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
        pos = np.concatenate(bloom_positions(fp1, fp2, n_hashes,
                                             m_bits))
        np.bitwise_or.at(bits, pos >> 3,
                         np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame({
            "bucket": [int(pdf[_BUCKET].iloc[0])],
            "m_bits": [m_bits], "n_hashes": [n_hashes],
            "n_keys": [len(fp1)], "n_buckets": [n_buckets],
            "bits_per_key": [bits_per_key], "bits": [bits.tobytes()]})

    fps = (_fingerprinted(corpus, text_col, n_buckets)
           .select(_FP, _FP2, _BUCKET).distinct())
    return fps.groupBy(_BUCKET).applyInPandas(make, BLOOM_SCHEMA)


def bloom_update(bloom: DataFrame, new_docs: DataFrame,
                 text_col: str = "text",
                 n_buckets: int = 64,
                 bits_per_key: int = 10,
                 max_load: float = 1.5) -> DataFrame:
    """The updated bloom table after ingesting ``new_docs`` --
    per-batch cost O(batch), not O(corpus): only buckets the batch
    touches are rewritten (bits OR'd in place), untouched bucket rows
    pass through unchanged.  A batch landing in a bucket with no
    bloom row yet creates one sized for ITS keys.

    Bloom bitarrays cannot grow, so a long-lived bucket saturates as
    keys accumulate (FPP decays toward 1 -- the filter silently stops
    filtering).  ``max_load`` guards that: once a bucket's
    keys-ever-added exceed ``max_load`` x its sized capacity
    (``m_bits / bits_per_key``), the update RAISES with guidance to
    rebuild (``bloom_build`` over the compacted corpus, the natural
    compaction companion) or to re-bucket with more buckets.  Loud
    failure beats a filter that quietly degrades into
    probe-everything."""
    _check_bloom_config(bloom, n_buckets)
    n_hashes = max(1, round(math.log(2) * bits_per_key))

    def merge(b: pd.DataFrame, bl: pd.DataFrame) -> pd.DataFrame:
        if len(b) == 0:
            return bl[["bucket", "m_bits", "n_hashes", "n_keys",
                       "n_buckets", "bits_per_key", "bits"]]
        if len(bl) == 0:
            m_bits = max(64, len(b) * bits_per_key)
            bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
            n_h, n0, bpk = n_hashes, 0, bits_per_key
        else:
            m_bits = int(bl["m_bits"].iloc[0])
            bits = np.frombuffer(bl["bits"].iloc[0],
                                 dtype=np.uint8).copy()
            n_h, n0 = int(bl["n_hashes"].iloc[0]), int(bl["n_keys"].iloc[0])
            bpk = int(bl["bits_per_key"].iloc[0])  # the index's sizing
        if (n0 + len(b)) * bpk > max_load * m_bits:
            raise RuntimeError(
                f"bloom bucket {int(b[_BUCKET].iloc[0])} would hold "
                f"{n0 + len(b)} keys in {m_bits} bits "
                f"(> {max_load}x its sized capacity); FPP has decayed "
                f"-- rebuild with bloom_build over the current corpus "
                f"(e.g. at compaction) or re-bucket with more buckets")
        pos = np.concatenate(bloom_positions(
            b[_FP].to_numpy(np.uint64), b[_FP2].to_numpy(np.uint64),
            n_h, m_bits))
        np.bitwise_or.at(bits, pos >> 3,
                         np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame({
            "bucket": [int(b[_BUCKET].iloc[0])],
            "m_bits": [m_bits], "n_hashes": [n_h],
            "n_keys": [n0 + len(b)], "n_buckets": [n_buckets],
            "bits_per_key": [bpk], "bits": [bits.tobytes()]})

    fps = (_fingerprinted(new_docs, text_col, n_buckets)
           .select(_FP, _FP2, _BUCKET).distinct())
    return (fps.groupBy(_BUCKET)
               .cogroup(bloom.groupBy("bucket"))
               .applyInPandas(merge, BLOOM_SCHEMA))


def bloom_probe(batch: DataFrame, bloom: DataFrame,
                text_col: str = "text",
                n_buckets: int = 64) -> DataFrame:
    """``batch`` + a ``maybe_seen`` boolean: False is definitive
    (bloom filters have no false negatives -- the row is certainly
    NOT in the corpus), True needs exact verification (expected FPP
    ~0.8^bits_per_key... ~1% at 10).  Cogroup on the bucket key: the
    bloom blob crosses Arrow once per bucket, batch rows stream
    through vectorized numpy bit tests.  A bucket absent from the
    bloom table (corpus had no key there) probes all-False."""
    _check_bloom_config(bloom, n_buckets)
    cols = batch.columns

    def probe(b: pd.DataFrame, bl: pd.DataFrame) -> pd.DataFrame:
        if len(b) == 0:
            return b.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(bl) == 0:
            return b.assign(maybe_seen=False)
        m_bits = int(bl["m_bits"].iloc[0])
        n_hashes = int(bl["n_hashes"].iloc[0])
        bits = np.frombuffer(bl["bits"].iloc[0], dtype=np.uint8)
        pos = np.stack(bloom_positions(
            b[_FP].to_numpy(np.uint64), b[_FP2].to_numpy(np.uint64),
            n_hashes, m_bits), axis=1)
        hit = ((bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1) \
            .all(axis=1)
        return b.assign(maybe_seen=hit)

    fb = _fingerprinted(batch, text_col, n_buckets)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in fb.schema.fields) + ", maybe_seen boolean"
    out = (fb.groupBy(_BUCKET)
             .cogroup(bloom.groupBy("bucket"))
             .applyInPandas(probe, out_schema))
    return out.select(*cols, "maybe_seen")


def bloom_new_docs(batch: DataFrame, corpus: DataFrame,
                   bloom: DataFrame, text_col: str = "text",
                   n_buckets: int = 64) -> DataFrame:
    """Batch rows whose text the corpus has NOT seen -- byte-identical
    to the plain md5 anti-join, but only the maybe-seen sliver (true
    dups + ~FPP of the novel rows) pays the corpus-sized join; the
    certainly-new majority of a mostly-novel batch bypasses it
    entirely.  At a steady-state ingest this turns the per-batch cost
    from O(batch x corpus-join) into O(batch) + O(dups).

    Computes corpus fingerprints by scanning the corpus TEXT -- fine
    for one-shot batch dedup; a continuous ingest should maintain a
    fingerprint index instead and verify through
    :func:`bloom_new_docs_indexed` (a narrow one-column scan)."""
    corpus_fps = (corpus.select(F.md5(F.col(text_col)).alias("fp_md5"))
                        .distinct())
    return bloom_new_docs_indexed(batch, corpus_fps, bloom,
                                  text_col, n_buckets)


def bloom_new_docs_indexed(batch: DataFrame, fp_index: DataFrame,
                           bloom: DataFrame, text_col: str = "text",
                           n_buckets: int = 64) -> DataFrame:
    """:func:`bloom_new_docs` verifying against a maintained
    fingerprint index (one ``fp_md5`` column) instead of rescanning
    corpus text -- the continuous-ingest shape: per batch, the index
    contributes a narrow single-column scan, and only when the bloom
    actually flagged suspects."""
    # materialize the probe verdicts ONCE (localCheckpoint): probed
    # feeds both the certain-new and the suspect branch, and without
    # truncation each branch re-runs the whole probe subtree --
    # including the corpus-sized bloom build feeding the cogroup
    # (measured r15: two FlatMapCoGroupsInPandas nodes, zero reuse).
    # probed is batch-sized, which is exactly this operator's
    # documented per-ingest budget.
    probed = bloom_probe(batch, bloom, text_col,
                         n_buckets).localCheckpoint()
    certain_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified_new = (suspects
                    .withColumn("fp_md5", F.md5(F.col(text_col)))
                    .join(fp_index.select("fp_md5").distinct(),
                          "fp_md5", "left_anti")
                    .drop("fp_md5"))
    return certain_new.unionByName(verified_new)
