"""Measure the scaling slope of the corpus operators (r4 verdict #4).

Generates 10x/30x synthetic corpora from the sf0.1 documents /
embeddings tables and times the five headline corpus operators at
each size. Replica texts are TOKEN-SALTED (every token prefixed with
the replica index) so replicas share no shingles: the near-dup rate
per document stays that of the base corpus and candidate-pair counts
grow linearly with rows -- exact replication would instead grow
pairs quadratically in the replication factor and corrupt the slope.
Embedding replicas get a deterministic per-replica offset on dim 0
for the same reason.

Usage:
    python tools/scaling_slopes.py [--runs 3] [--out /tmp/scale_corpus]

Prints a JSON line per (operator, scale) and a slope summary:
slope = log(t30/t1) / log(30) -- 1.0 is linear, <1 sublinear
(fixed overhead amortizing), >1.2 flagged superlinear.
"""

import argparse
import json
import math
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALES = [1, 10, 30]


def generate(base_dir: str, out_root: str, scales=None) -> None:
    import numpy as np
    import pandas as pd

    docs = pd.read_parquet(os.path.join(base_dir, "documents.parquet"))
    embs = pd.read_parquet(os.path.join(base_dir, "embeddings.parquet"))
    n_docs, n_vecs = len(docs), len(embs)
    for scale in (scales or SCALES):
        d = os.path.join(out_root, f"x{scale}")
        if os.path.exists(os.path.join(d, "_DONE")):
            continue
        os.makedirs(d, exist_ok=True)
        doc_parts, emb_parts = [], []
        for i in range(scale):
            dp = docs.copy()
            if i:
                # token-salt: replicas share no shingles with the base
                dp["text"] = [
                    " ".join(f"{i}x{t}" for t in tx.split())
                    if tx is not None else None
                    for tx in dp["text"]]
            dp["doc_id"] = dp["doc_id"] + i * n_docs
            doc_parts.append(dp)
            ep = embs.copy()
            if i:
                vecs = np.stack(ep["embedding"].to_numpy())
                vecs[:, 0] += np.float32(0.01 * i)
                ep["embedding"] = list(vecs)
            ep["vec_id"] = ep["vec_id"] + i * n_vecs
            emb_parts.append(ep)
        pd.concat(doc_parts).to_parquet(
            os.path.join(d, "documents.parquet"), index=False)
        pd.concat(emb_parts).to_parquet(
            os.path.join(d, "embeddings.parquet"), index=False)
        open(os.path.join(d, "_DONE"), "w").close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default="/tmp/scale_corpus")
    ap.add_argument("--base", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--ops", nargs="*", default=None,
                    help="scope to these operator names")
    ap.add_argument("--scales", nargs="*", type=int, default=None,
                    help="scope to these scales (smoke runs); the "
                         "slope summary needs 1 and 30")
    args = ap.parse_args()
    scales = args.scales or SCALES

    # x1 always materializes: the fixed-batch/fixed-benchmark ops
    # (dedup_minhash_incremental's ingest batch, decontaminate_spans'
    # eval set) read it regardless of which scales are being timed
    generate(args.base, args.out, sorted(set(scales) | {1}))

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from esg_decarbonization_data_integration_and_data_pipline_spark.operators import dedup as D
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators import similarity as S
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators import text as T
    from esg_decarbonization_data_integration_and_data_pipline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("scaling-slopes", master=f"local[{cpus}]",
                      conf={"spark.sql.shuffle.partitions": str(cpus),
                            "spark.ui.enabled": "false",
                            # 30x corpora in one JVM: the 1g default
                            # heap OOMs collecting cached blocks
                            "spark.driver.memory": "16g"})
    spark.sparkContext.setLogLevel("ERROR")

    @pandas_udf("double")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    (spark.range(spark.sparkContext.defaultParallelism)
          .withColumn("x", _noop(F.col("id").cast("double")))
          .write.format("noop").mode("overwrite").save())

    def docs(scale):
        return spark.read.parquet(
            os.path.join(args.out, f"x{scale}", "documents.parquet"))

    def embs(scale):
        return spark.read.parquet(
            os.path.join(args.out, f"x{scale}", "embeddings.parquet"))

    def incr_index(scale):
        """Per-scale signature store for the incremental op, built
        once and reused across runs (the build is NOT part of the
        measured query -- at a real deployment the index pre-exists;
        the measurement is the per-batch cost as the INDEX grows)."""
        path = os.path.join(args.out, f"x{scale}", "mh_index")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            D.minhash_write_index(docs(scale), path)
        return path

    def incr_batch():
        """Fixed-size ingest batch: the x1 corpus with shifted ids
        (disjoint from every index id). Replica texts in the x>1
        indexes are token-salted, so the batch's near-dups live only
        in the unsalted first replica -- pair output stays constant
        while the index grows, isolating the index-scan term."""
        return docs(1).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000)

    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.packing import (
        pack_sequences,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.sampling import (
        token_budget_sample,
    )

    def _pack(d):
        return pack_sequences(d, seq_len=2048, n_shards=16)

    def _budget(d, s):
        # budget scales with the replica count so the selected
        # fraction (~half the corpus) stays comparable across scales
        return token_budget_sample(d, budget_tokens=75_000 * s)

    def _line_dedup(d):
        lines = T.chunk_documents(d, chunk_tokens=8, overlap=0)
        return T.drop_repeated_lines(lines, min_docs=2)

    OPS = {
        "dedup_minhash_incremental":
            lambda s: D.minhash_incremental_pairs(
                spark, incr_batch(), incr_index(s), 0.6),
        "dedup_chunk_overlap":
            lambda s: D.chunk_overlap_pairs(docs(s), chunk_tokens=16),
        "dedup_minhash_verified":
            lambda s: D.minhash_verified_pairs(docs(s), 0.6),
        "dedup_simhash64_pairs":
            lambda s: D.simhash_chunked_band_pairs(docs(s), max_hamming=3),
        "similarity_ivf_topk":
            lambda s: S.ivf_topk(embs(s),
                                 embs(s).filter(F.col("vec_id") == 0),
                                 k=10, n_cells=16, n_probes=4),
        "vocab_top_tokens": lambda s: T.vocab_top_tokens(docs(s), k=50),
        "tfidf_top_terms": lambda s: T.tfidf_top_terms(docs(s), k=3),
        "text_bigram_nll": lambda s: T.bigram_nll(docs(s)),
        # round-6 export tier: shard count fixed (the 100 TB knob is
        # n_shards; slope vs corpus size at constant shards is the
        # conservative case -- per-shard windows grow linearly)
        "pack_sequences":
            lambda s: _pack(docs(s)),
        "token_budget_sample":
            lambda s: _budget(docs(s), s),
        "text_line_dedup":
            lambda s: _line_dedup(docs(s)),
        # round-7: intra-doc line dedup -- pure narrow map, the slope
        # should track the scan
        "text_dedup_doc_lines":
            lambda s: _doc_lines(docs(s)),
        # round-7: span decontamination -- benchmark fixed at the x1
        # subset (eval sets don't grow with the corpus); the corpus
        # gram explode + broadcast join + rebuild scale with rows
        "decontaminate_spans":
            lambda s: _spans(docs(s)),
        # round-14 (late): exact-substring dedup -- the gram-hash
        # exchange carries every occurrence (16-byte md5 keys), the
        # island merge is bounded by duplicated occurrences; the
        # token-salted replicas keep the dup rate constant so the
        # slope tracks the occurrence shuffle, the honest 100 TB cost
        "exact_substring_spans":
            lambda s: T.exact_substring_spans(docs(s), n=8),
        "exact_substring_dedup":
            lambda s: T.exact_substring_dedup(docs(s), n=8),
        # round-8 (r7 verdict task #6): the eval-side report is the
        # same fixed-benchmark family -- its corpus-side gram explode
        # + broadcast join grows with the corpus while the output
        # stays benchmark-sized, so the slope should track the scan
        "contamination_report":
            lambda s: _report(docs(s)),
        # round-8: two more newly-head-graded ops. dataset_diff is
        # timed on identical snapshots (diff empty) -- that isolates
        # the per-snapshot cost its O(diff + batch) claim rides on:
        # two narrow md5 scans + one id-keyed full outer join.
        # temperature mixture is one bounded per-source collect +
        # one window; slope should track the scan.
        "dataset_diff":
            lambda s: _diff(docs(s)),
        "mixture_temperature":
            lambda s: _temperature(docs(s)),
        # round-7: the COMPOSED e2e (curate -> canonical train split
        # -> pack -> sharded export + manifest). Per-operator slopes
        # can hide composition pathologies (r6 found two: lineage
        # doubling, AQE 1-partition collapse) -- only the composed
        # run shows them.  The export write is part of the measured
        # cost on purpose; the returned manifest is tiny.
        "curate_and_export":
            lambda s: _curate_export(s),
        # round-8: per-label centroid outlier flags -- a (label, dim)
        # partial-agg shuffle + broadcast score + one per-label
        # window; slope should track the embedding scan
        "embedding_outliers":
            lambda s: S.label_outliers(embs(s), frac=0.1),
        # round-8: leakage audit over a PRE-MATERIALIZED curate()
        # snapshot (built untimed, like the minhash index) -- the
        # claim under test is "one window over existing cluster
        # labels, no re-clustering", so the curate cost must not
        # leak into the measurement
        "split_leakage_report":
            lambda s: _leakage(s),
        # round-8: first-rejecting-gate attribution. By design it
        # re-runs the curate gate chain (attribution cannot drift
        # from the data path), so its slope bounds the gate chain's
        # own slope -- expected to track curate_and_export minus the
        # export write
        "rejection_audit":
            lambda s: _audit(docs(s)),
        # round-9: PII detect+redact -- pure narrow regexp chain
        # (4 counts + 4 replaces per row), zero shuffles; the slope
        # should track the scan like the other narrow text kernels
        "pii_redact":
            lambda s: _pii(docs(s)),
        # round-9: incremental MV maintenance (io/matview). The
        # SOURCE versioned table + the MV are built per scale
        # UNTIMED (the index-pre-exists discipline, like
        # dedup_minhash_incremental); the measured op is one fixed
        # x1-sized ingest cycle -- append the delta + fold its CDF
        # into the accumulators + read the view back.  The claim
        # under test is O(|delta| + touched MV files), INDEPENDENT
        # of source size: the slope vs source scale should be ~0
        # (flat), because refresh reads only the appended files
        # (CDF append fast path) and the MV is group-count-sized.
        "matview_refresh":
            lambda s: _mv_refresh(s),
        # round-9: BM25 retrieval with a FIXED query workload (the
        # x1 corpus' %83 slice) against a growing corpus.  The
        # corpus-side cost is the scan+explode plus the broadcast
        # query-token pre-filter; only query-term postings shuffle,
        # so the slope should ride the scan like the narrow text
        # kernels, not the join tier.
        "bm25_retrieval":
            lambda s: T.bm25_topk(
                docs(s),
                docs(1).filter(F.col("doc_id") % 83 == 0)
                       .select(F.col("doc_id").alias("query_id"),
                               "text"),
                k=5),
        # round-9: PSI drift of a growing new snapshot against the
        # fixed x1 reference -- each side collapses to O(buckets)
        # rows in one partial-agg scan, so the slope should ride the
        # new-side scan and nothing else.
        "psi_drift":
            lambda s: _psi(docs(s)),
        # round-9: data-quality suite (4 row-level + 1 agg bound
        # sharing ONE scan, plus a uniqueness groupBy and a
        # k-anonymity groupBy = 3 scans total) -- should ride the
        # scan like the narrow kernels
        "expectations_report":
            lambda s: _dq(docs(s)),
        # round-10 (r9 verdict task #4): copy-on-write MERGE against
        # a GROWING key-clustered versioned table (x1/x10/x30
        # replicas of the sf0.1 orders rows, appended + compacted
        # with sort_by=o_orderkey untimed).  The measured op is one
        # fixed 2k-key-slice upsert: the O(touched-files) claim says
        # its cost rides the slice (stats-pruned candidate files +
        # one metadata-sized range join + the commit), NOT the table
        # -- slope vs table scale should be ~0.  Real file counts
        # (total vs touched per scale) print untimed alongside.
        "merge_version":
            lambda s: _merge_cycle(s),
        # round-10: right-to-be-forgotten purge across history
        # (io/purge) against the same growing clustered fixture.
        # Each run erases a FRESH fixed-size key slice (3 keys) from
        # every readable version: candidates are stats-pruned to the
        # slice's file(s), so the cost should ride the touched files
        # + the O(#versions) manifest metadata repair -- flat vs
        # table scale, like merge.
        "purge_history":
            lambda s: _purge_cycle(s),
        # round-10: partial compaction against the growing clustered
        # fixture.  Each run fragments a FIXED key slice (one small
        # append into the low key range) and compact_where
        # re-clusters just that slice: candidates are the slice's
        # file(s) + the fresh fragment, so the cost should stay flat
        # vs table scale while compact_table would grow linearly.
        "compact_where":
            lambda s: _compact_where_cycle(s),
        # round-11 (r10 verdict task #4): bloom sidecar build against
        # the growing clustered fixture (5/12/24 files at x1/x10/x30).
        # Each run deletes the existing sidecars (µs -- ≤24 unlinks)
        # and rebuilds ALL of them: one executor task per file, each
        # streaming one ~256 KiB column chunk, so with 32 cores and
        # ≤24 files the wall-clock should stay near-flat until the
        # file count exceeds the core count (the claim is
        # executor-PARALLEL, not driver-serial).
        "bloom_build":
            lambda s: _bloom_build_cycle(s),
        # round-11: bloom point-probe planning -- 500 lookup_files
        # probes per run against the growing fixture.  lookup_files
        # takes NO SparkSession (zero-Spark-job by signature): pure
        # driver-side metadata, O(#files) sidecar reads per probe, so
        # the slope should track the file count (5->24), not bytes.
        "bloom_lookup":
            lambda s: _bloom_lookup_cycle(s),
        # round-11: constraint audit over ALL readable versions of
        # the growing fixture, cost-routed.  The metadata suite
        # (not_null on the stats-tracked key) answers from manifest
        # null counts -- zero data I/O, slope ~0; the scan suite
        # (in_set on an untracked string column) pays one scan per
        # version -- slope ~1.  The declaration is swapped by writing
        # the sidecar directly (µs; set_table_constraints' validation
        # scan is deployment-time cost, not per-audit cost).
        "constraints_audit_meta":
            lambda s: _audit_cycle(s, "meta"),
        "constraints_audit_scan":
            lambda s: _audit_cycle(s, "scan"),
        # round-11: SCD2 snapshot fold against a GROWING dimension
        # (docs(s) keys; dim pre-built untimed).  Each run applies a
        # FIXED x1-sized delta flipping one tracked attr on a fixed
        # 2k-key slice: the merge rewrite is O(touched history), but
        # an apply inherently pays two narrow full-dim scans (the
        # is_current detection join + the effective-order guard), so
        # the slope should ride those scans -- sub-linear wall on 32
        # cores, never the join tier.
        "scd2_apply":
            lambda s: _scd_cycle(s),
        # round-11: zero-copy shallow clone of the growing clustered
        # fixture (6/17/30 files).  The claim is O(#files) METADATA
        # work -- stats/rowmeta line rewrite + one manifest + pointer
        # write, zero data copied -- so the wall-clock should be
        # milliseconds and flat-ish vs table bytes.
        "shallow_clone":
            lambda s: _clone_cycle(s),
        # round-12 (r11 verdict task #4): footer-truth verification
        # of the growing clustered fixture.  verify_table reads each
        # unique physical file's parquet FOOTER once in one
        # executor-parallel job (plus O(#versions) manifest metadata
        # driver-side), so with 32 cores and 6/17/30 files the wall
        # should stay near-flat until #files exceeds the core count
        # -- the claim is executor-PARALLEL footer truth, never a
        # data scan.
        "fsck_verify":
            lambda s: _fsck_verify_cycle(s),
        # round-12: the same 500-probe workload through the
        # CONSOLIDATED root-level index: one mtime-cached file read
        # total instead of one sidecar open per (probe, file) -- the
        # r11 verdict's watch-item fix; the slope should collapse
        # toward flat.  The index is built lazily inside the FIRST
        # timed sample per scale (a few ms); the recorded number is
        # the median of 3, which excludes it.
        "bloom_lookup_consolidated":
            lambda s: _bloom_lookup_consolidated_cycle(s),
        # round-12: row-level change feed (readChangeFeed) over ONE
        # pre-created fixed-slice merge commit per scale (prep,
        # untimed).  The commit rewrote the same 2k-key slice at
        # every scale, so the executor-side multiset-diff partition
        # reads O(rewritten bytes) -- the wall should stay flat while
        # the table grows 30x (the "commit-sized, never table-sized"
        # claim measured).
        "cdf_batch_diff":
            lambda s: _cdf_batch_cycle(s),
        # round-12: physical clone of the growing fixture into a
        # fresh dir each run (one executor task per file).  Bytes
        # copied grow 30x while the 256 KiB-targeted file count grows
        # 6->30: with one task per file on 32 cores the wall rides
        # max-per-file copy time until #files > cores, then linear in
        # bytes -- the honest contrast to shallow_clone's flat
        # metadata row.
        "deep_clone":
            lambda s: _deep_clone_cycle(s),
        # round-12 (continuation): zero-copy column RENAME on the
        # growing clustered fixture.  One cycle = rename
        # o_totalprice -> price_tmp -> back (so the shared fixture
        # stays name-stable for any op measured after): TWO
        # metadata-only commits, each a stats/rowmeta line re-key +
        # manifest + pointer write, zero files read -- the wall
        # should be milliseconds and flat vs table bytes, like
        # shallow_clone (the read-side cost of the mapping is pinned
        # separately: the mapped plan is IDENTICAL to the unmapped
        # one, tests/test_column_mapping.py plan-shape test).
        "rename_column":
            lambda s: _rename_cycle(s),
        # round-12 (continuation): merge-on-read delete via deletion
        # vectors on the growing clustered fixture.  Each run marks a
        # fresh 3-key slice deleted: stats prune the candidate files,
        # ONE scan of those locates the positions, and the commit is
        # sidecar-sized -- the wall should stay flat-ish vs table
        # bytes (the scan is O(candidate files), bounded by the
        # clustering), the honest contrast to merge_version's
        # rewrite-per-touched-file row.
        "dv_delete":
            lambda s: _dv_delete_cycle(s),
        # round-14: the graded BPE trainer end-to-end (one corpus
        # scan -> word-freq collect -> driver vocab merge loop -> one
        # Arrow encode pass).  The merge loop is vocab-sized, so the
        # slope should track the two corpus scans, never the loop.
        "bpe_train_encode":
            lambda s: _bpe_train_encode(s),
        # round-14: snapshot write WITH manifest stats
        # (write_version partition_by + stats_columns -- r13 verdict
        # task 3).  Fresh dir per run; the footer-stat collection is
        # one pyarrow open per OWN file at write time, so the slope
        # should track the parquet write it amortizes into.
        "snapshot_stats_write":
            lambda s: _snapshot_stats_write_cycle(s),
        # round-14: bounded count_where on a NON-partition column of
        # the pre-built partitioned snapshot (untimed build): every
        # interior file answers from the manifest, so the wall
        # should stay flat while the snapshot grows 30x -- the
        # contrast row to the footer-read fan-out the manifest
        # removed.
        "snapshot_count_where":
            lambda s: _snapshot_count_cycle(s),
        # round-14: writer-face dynamic partition overwrite of one
        # FIXED-SIZE source slice on the growing partitioned table:
        # the staged reload is batch-sized, untouched partitions
        # inherit by reference, and the commit's drop-set walk is
        # O(manifest) -- the wall should stay flat-ish vs table
        # bytes (the "O(batch + touched partitions)" claim measured
        # through the API users actually write).
        "writer_dynamic_replace":
            lambda s: _writer_replace_cycle(s),
    }

    def _pii(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.pii import (
            detect_pii, redact_pii,
        )

        return redact_pii(detect_pii(d), out_col="redacted")

    def _psi(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.diff import psi_drift

        return psi_drift(docs(1), d, "n_chars", n_buckets=10)

    def _dq(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators import expectations as E

        return E.report(d, [
            E.not_null("text"), E.not_null("doc_id"),
            E.in_range("n_chars", 0, 100_000),
            E.matches("lang", "^[a-z]{2}$"),
            E.agg_between("n_chars", "avg", 1, 10_000),
            E.unique("doc_id"),
            E.min_group_size(("lang", "source"), 2),
        ])

    def _mv_proj(d):
        return d.select("doc_id", "source", "lang", "n_chars")

    def _mv_dirs(s):
        return (os.path.join(args.out, f"x{s}", "mv_src"),
                os.path.join(args.out, f"x{s}", "mv_view"))

    def _mv_build(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.matview import (
            create_aggregate_view,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            append_version, current_version,
        )

        src, mv = _mv_dirs(s)
        if current_version(src) is None:
            append_version(_mv_proj(docs(s)), src,
                           stats_columns=["doc_id"])
            create_aggregate_view(
                spark, src, mv, ["source", "lang"],
                [{"name": "n_docs", "agg": "count"},
                 {"name": "chars", "agg": "sum", "col": "n_chars"},
                 {"name": "avg_chars", "agg": "avg",
                  "col": "n_chars"}])

    def _orders_big(s):
        """x{s} replicas of the sf0.1 orders rows with SHIFTED keys,
        so the key space widens with the table (a fixed key slice
        covers a shrinking fraction)."""
        base = (spark.read.parquet(
                    os.path.join(args.base, "orders.parquet"))
                .select("o_orderkey", "o_custkey", "o_orderstatus",
                        "o_totalprice"))
        span = 10_000_000  # > max o_orderkey at any tested SF
        rep = spark.range(s).select(F.col("id").alias("__r"))
        return (base.crossJoin(F.broadcast(rep))
                .select((F.col("o_orderkey")
                         + F.col("__r") * span).alias("o_orderkey"),
                        "o_custkey", "o_orderstatus", "o_totalprice"))

    def _merge_dir(s):
        return os.path.join(args.out, f"x{s}", "merge_tbl")

    def _merge_build(s):
        """Untimed per-scale fixture: one append + one key-clustered
        compaction at 256 KiB target files, so the file count grows
        with the table (measured: 5 at x1, 12 at x10, 24 at x30 --
        the SCALE.md merge row's fixture)."""
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            append_version, compact_table, current_version,
        )

        td = _merge_dir(s)
        if current_version(td) is None:
            append_version(_orders_big(s), td,
                           stats_columns=["o_orderkey"])
            # 256 KiB files so the clustered file count visibly grows
            # with the table (~2 at x1, ~25 at x30) while the fixed
            # 2k-key update slice keeps touching O(1) of them
            compact_table(spark, td, sort_by=["o_orderkey"],
                          target_file_bytes=1 << 18)
        return td

    def _merge_counts(s):
        """(total files, stats-pruned candidate files) for the fixed
        update slice at the CURRENT version -- the real-file-count
        evidence behind the O(touched) claim, computed untimed."""
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            _data_files, _touched_files, current_version,
        )

        td = _merge_dir(s)
        cur = current_version(td)
        keys = _orders_big(1).filter(
            F.col("o_orderkey") < 2000).select("o_orderkey")
        touched, total = _touched_files(spark, td, cur, keys,
                                        "o_orderkey")
        return total, len(touched)

    def _merge_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import merge_version

        updates = (_orders_big(1)
                   .filter(F.col("o_orderkey") < 2000)
                   .withColumn("o_totalprice",
                               F.col("o_totalprice") * 1.1))
        merge_version(spark, _merge_dir(s), updates, "o_orderkey")
        # the merge IS the measured action; the returned frame only
        # satisfies the harness' noop-write contract
        return spark.range(1)

    def _compact_where_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            append_version, compact_where,
        )

        td = _merge_dir(s)
        # fragment the low key slice, then measure re-clustering it;
        # both halves are part of the maintenance cycle being timed
        frag = (_orders_big(1)
                .filter(F.col("o_orderkey") < 1000)
                .coalesce(1))
        append_version(frag, td)
        compact_where(spark, td, "o_orderkey", lo=0, hi=1000,
                      target_file_bytes=1 << 18)
        return spark.range(1)

    def _bloom_build_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
            build_bloom_index,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
            sidecar_candidates,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            _data_files, current_version,
        )

        td = _merge_dir(s)
        n = current_version(td)
        for rel in _data_files(td, n):
            for sc_path in sidecar_candidates(os.path.join(td, rel)):
                os.remove(sc_path)
        built = build_bloom_index(spark, td, "o_custkey", n=n)
        assert built > 0
        return spark.range(1)

    def _bloom_lookup_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
            lookup_files,
        )

        td = _merge_dir(s)
        hits = 0
        for probe in range(500):
            hits += len(lookup_files(td, "o_custkey", probe + 1))
        # probes 1..500 are real sf0.1 custkeys: if nothing ever
        # survives pruning the sidecars are broken, not fast
        assert hits > 0
        return spark.range(1)

    _AUDIT_SUITES = {
        # metadata-routed: o_orderkey is stats-tracked, so not_null
        # answers from manifest null counts with zero data I/O
        "meta": lambda E: [E.not_null("o_orderkey")],
        # scan-routed: in_set on an untracked string column pays one
        # column scan per readable version
        "scan": lambda E: [E.in_set("o_orderstatus",
                                    ("F", "O", "P"))],
    }

    def _audit_cycle(s, suite):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io import constraints as C
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators import expectations as E

        td = _merge_dir(s)
        C._write_constraints(td, _AUDIT_SUITES[suite](E))
        rows = C.audit_constraints(spark, td)
        assert rows and all(r["passed"] for r in rows)
        return spark.range(1)

    def _scd_dir(s):
        return os.path.join(args.out, f"x{s}", "scd_dim")

    def _scd_proj(d):
        return d.select(F.col("doc_id").alias("k"), "lang", "source",
                        "n_chars")

    def _scd_build(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.scd import scd2_apply
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            current_version,
        )

        td = _scd_dir(s)
        if current_version(td) is None:
            scd2_apply(spark, td, _scd_proj(docs(s)), "k",
                       ["lang", "source"], 1_000)
        return td

    _scd_runs: dict = {}

    def _scd_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.scd import scd2_apply

        # fresh effective + fresh attr value per run so every cycle
        # genuinely closes + reopens the fixed 2k-key slice
        r = _scd_runs[s] = _scd_runs.get(s, 0) + 1
        delta = (_scd_proj(docs(1))
                 .filter(F.col("k") < 2000)
                 .withColumn("lang", F.lit(f"v{r}")))
        scd2_apply(spark, _scd_dir(s), delta, "k", ["lang", "source"],
                   1_000 + r)
        return spark.range(1)

    _clone_dirs: list[str] = []

    def _clone_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.clone import shallow_clone

        dst = os.path.join(args.out, f"x{s}",
                           f"clone_run_{len(_clone_dirs)}")
        _clone_dirs.append(dst)
        shallow_clone(spark, _merge_dir(s), dst)
        return spark.range(1)

    _cdf_ranges: dict = {}

    def _cdf_prep(s):
        """One fixed-slice merge commit per scale, untimed; records
        the (base, cur] range the timed cycle re-reads."""
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            current_version, merge_version,
        )

        td = _merge_dir(s)
        base = current_version(td)
        updates = (_orders_big(1)
                   .filter(F.col("o_orderkey") < 2000)
                   .withColumn("o_totalprice",
                               F.col("o_totalprice") * 1.07))
        cur = merge_version(spark, td, updates, "o_orderkey")
        _cdf_ranges[s] = (base, cur)

    def _cdf_batch_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
            register as register_ds,
        )

        register_ds(spark)
        a, b = _cdf_ranges[s]
        df = (spark.read.format("versioned_table")
              .option("path", _merge_dir(s))
              .option("readChangeFeed", "true")
              .option("startingVersion", str(a))
              .option("endingVersion", str(b)).load())
        return df

    _consolidated_scales: set = set()

    def _bloom_lookup_consolidated_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
            consolidate_bloom_index,
        )

        # ops run per-op then per-scale, so the per-file bloom_lookup
        # variant (measured earlier, indexes stripped in prep) never
        # sees this; the one-time consolidation lands in the first
        # sample only and the recorded number is the median
        if s not in _consolidated_scales:
            consolidate_bloom_index(_merge_dir(s), "o_custkey")
            _consolidated_scales.add(s)
        return _bloom_lookup_cycle(s)

    _dv_runs: dict = {}

    def _dv_delete_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            delete_keys_dv,
        )

        r = _dv_runs[s] = _dv_runs.get(s, 0) + 1
        victims = [7000 + r * 3, 7001 + r * 3, 7002 + r * 3]
        delete_keys_dv(
            spark, _merge_dir(s),
            spark.createDataFrame([(k,) for k in victims],
                                  "o_orderkey bigint"),
            "o_orderkey")
        return spark.range(1)

    def _rename_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            rename_column,
        )

        td = _merge_dir(s)
        rename_column(spark, td, "o_totalprice", "price_tmp")
        rename_column(spark, td, "price_tmp", "o_totalprice")
        return spark.range(1)

    def _bpe_train_encode(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.bpe import (
            bpe_segment, train_bpe,
        )

        d = docs(s).filter(F.col("text").isNotNull())
        merges = train_bpe(d, n_merges=8)
        return bpe_segment(d, merges).select("doc_id", "n_bpe_tokens")

    def _snap_proj(s):
        return docs(s).select("doc_id", "source", "lang", "n_chars")

    def _snap_dir(s, name: str = "snap_part") -> str:
        """A pre-built partitioned snapshot for scale ``s`` (build
        untimed -- the table pre-exists at a real deployment; only
        the metadata reads / reloads are the measured queries).
        ``snap_part`` stays read-only for the count_where row;
        ``snap_repl`` is the writer-replace row's mutable twin."""
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            current_version, write_version,
        )

        path = os.path.join(args.out, f"x{s}", name)
        if current_version(path) is None:
            write_version(_snap_proj(s), path,
                          partition_by=("source",),
                          stats_columns=["doc_id", "n_chars"])
        return path

    _snapw_runs: dict = {}

    def _snapshot_stats_write_cycle(s):
        import shutil as _sh

        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            write_version,
        )

        r = _snapw_runs[s] = _snapw_runs.get(s, 0) + 1
        dst = os.path.join(args.out, f"x{s}", f"snapw_run_{r}")
        _sh.rmtree(dst, ignore_errors=True)
        _export_dirs.append(dst)
        write_version(_snap_proj(s), dst, partition_by=("source",),
                      stats_columns=["doc_id", "n_chars"])
        return spark.range(1)

    def _snapshot_count_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            count_where, table_rowcount,
        )

        td = _snap_dir(s)
        # spark NOT passed: a boundary scan would be a correctness
        # bug here (every file is interior under an unbounded range,
        # and the bounded one covers the whole doc_id domain)
        n = count_where(None, td, "n_chars", lo=0, hi=10**9)
        assert n == table_rowcount(td), (n, s)
        return spark.range(1)

    _wrepl_runs: dict = {}
    _snap_src: list = []

    def _writer_replace_cycle(s):
        if not _snap_src:
            from esg_decarbonization_data_integration_and_data_pipline_spark.sources.versioned_source import (
                register as _reg,
            )

            _reg(spark)
            _snap_src.append(
                _snap_proj(1).agg(F.min("source")).first()[0])
        r = _wrepl_runs[s] = _wrepl_runs.get(s, 0) + 1
        src = (_snap_proj(1)
               .filter(F.col("source") == _snap_src[0])
               .withColumn("n_chars",
                           F.col("n_chars") + F.lit(r)))
        (src.write.format("versioned_table").mode("overwrite")
         .option("path", _snap_dir(s, "snap_repl"))
         .option("partitionBy", "source")
         .option("partitionOverwriteMode", "dynamic").save())
        return spark.range(1)

    def _fsck_verify_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import verify_table

        rep = verify_table(spark, _merge_dir(s))
        # the fixture is healthy by construction: a dirty report
        # means the checker broke, not that it got fast
        assert rep["ok"], rep
        return spark.range(1)

    def _deep_clone_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.clone import deep_clone

        dst = os.path.join(args.out, f"x{s}",
                           f"dclone_run_{len(_clone_dirs)}")
        _clone_dirs.append(dst)
        deep_clone(spark, _merge_dir(s), dst)
        return spark.range(1)

    _purge_runs: dict = {}

    def _purge_cycle(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
            purge_keys_history,
        )

        # fresh victims per run so every cycle is a genuine erasure
        # (the first merge-fixture keys are never purged: merge_cycle
        # reuses them)
        r = _purge_runs[s] = _purge_runs.get(s, 0) + 1
        victims = [5000 + r * 3, 5001 + r * 3, 5002 + r * 3]
        purge_keys_history(spark, _merge_dir(s), "o_orderkey",
                           victims)
        return spark.range(1)

    _mv_runs: dict = {}

    def _mv_refresh(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.matview import (
            read_aggregate_view, refresh_aggregate_view,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
            append_version,
        )

        # unique ids per run so each cycle is a genuine new delta
        # (same FIXED x1 batch size every run, at every scale)
        n = _mv_runs[s] = _mv_runs.get(s, 0) + 1
        src, mv = _mv_dirs(s)
        delta = _mv_proj(docs(1)).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000 * n)
        append_version(delta, src)
        refresh_aggregate_view(spark, mv)
        return read_aggregate_view(spark, mv)

    def _doc_lines(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
            drop_duplicate_lines_within,
        )

        return drop_duplicate_lines_within(d)

    def _spans(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
            decontaminate_spans,
        )

        bench = docs(1).filter("doc_id % 29 = 0")
        return decontaminate_spans(d, bench, n=4)

    def _report(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
            contamination_report,
        )

        bench = docs(1).filter("doc_id % 29 = 0")
        return contamination_report(d, bench, n=4)

    def _diff(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.diff import (
            dataset_diff,
        )

        return dataset_diff(d, d, compare_cols=["text", "source"])

    def _temperature(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.sampling import (
            temperature_mixture_sample,
        )

        return temperature_mixture_sample(d, alpha=0.5)

    def _curated(s):
        """Per-scale curate() snapshot, built once untimed: the
        leakage report's contract is O(window over labels), so it is
        timed over the materialized curation result, not the live
        curation lineage."""
        from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.corpus_curation import (
            curate,
        )

        path = os.path.join(args.out, f"x{s}", "curated_snapshot")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            curate(docs(s)).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def _leakage(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.corpus_curation import (
            split_leakage_report,
        )

        return split_leakage_report(_curated(s))

    def _audit(d):
        from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.corpus_curation import (
            rejection_audit,
        )

        return rejection_audit(d)

    _export_dirs: list[str] = []

    def _curate_export(s):
        from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.corpus_curation import (
            curate_and_export,
        )

        # unique dir per invocation: deleting the PREVIOUS run's
        # export inside the timed region would bias larger scales
        # (the tree to delete grows with the corpus); cleanup happens
        # untimed after the measurement loop
        out = os.path.join(args.out, f"x{s}",
                           f"export_run_{len(_export_dirs)}")
        _export_dirs.append(out)
        return curate_and_export(docs(s), out, seq_len=2048, n_shards=16)

    results = {}
    if args.ops:
        OPS = {k: v for k, v in OPS.items() if k in args.ops}
    if "dedup_minhash_incremental" in OPS:
        # build the per-scale signature stores BEFORE timing -- the
        # build is index maintenance, not per-batch query cost, and
        # leaking it into the first sample corrupts the median
        for scale in scales:
            incr_index(scale)
    if "split_leakage_report" in OPS:
        # same discipline: the curated snapshots are inputs, not part
        # of the measured query
        for scale in scales:
            _curated(scale)
    if "matview_refresh" in OPS:
        # the versioned source + MV pre-exist at a real deployment;
        # only the per-delta ingest cycle is the measured query
        for scale in scales:
            _mv_build(scale)
    if {"merge_version", "purge_history", "compact_where",
            "bloom_build", "bloom_lookup", "constraints_audit_meta",
            "constraints_audit_scan", "shallow_clone",
            "fsck_verify", "deep_clone",
            "cdf_batch_diff", "rename_column",
            "dv_delete"} & set(OPS):
        # same discipline: the clustered table pre-exists; only the
        # per-batch merge/erasure/audit is measured.  File counts
        # print untimed.
        for scale in scales:
            _merge_build(scale)
            total, touched = _merge_counts(scale)
            print(json.dumps({"op": "merge_fixture", "scale": scale,
                              "files_total": total,
                              "files_touched": touched}), flush=True)
    if {"bloom_lookup", "bloom_lookup_consolidated"} & set(OPS):
        # probes need sidecars present; the build is index
        # maintenance, not per-probe cost (bloom_build measures it)
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
            build_bloom_index, consolidate_bloom_index,
        )
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
            consolidated_candidates,
        )

        for scale in scales:
            build_bloom_index(spark, _merge_dir(scale), "o_custkey")
            # the per-file variant must NOT see a consolidated index
            # (lookup_files prefers it); the consolidated variant
            # builds it untimed right before its own measurement
            for p in consolidated_candidates(_merge_dir(scale)):
                os.remove(p)
    if "scd2_apply" in OPS:
        # the dimension pre-exists at a real deployment; only the
        # per-snapshot fold is the measured query
        for scale in scales:
            _scd_build(scale)
    if "cdf_batch_diff" in OPS:
        # the merge commit pre-exists; only the change-feed READ of
        # its immutable (base, cur] range is the measured query
        for scale in scales:
            _cdf_prep(scale)
    if "snapshot_count_where" in OPS:
        # the partitioned snapshot pre-exists; only the metadata
        # count is the measured query (snapshot_stats_write measures
        # the build cost separately, on fresh dirs)
        for scale in scales:
            _snap_dir(scale)
    if "writer_dynamic_replace" in OPS:
        for scale in scales:
            _snap_dir(scale, "snap_repl")
    for name, fn in OPS.items():
        results[name] = {}
        for scale in scales:
            ts = []
            for _ in range(args.runs):
                t0 = time.time()
                fn(scale).write.format("noop").mode("overwrite").save()
                ts.append(time.time() - t0)
                spark.catalog.clearCache()
            med = statistics.median(ts)
            results[name][scale] = round(med, 3)
            print(json.dumps({"op": name, "scale": scale,
                              "median_sec": round(med, 3),
                              "runs": [round(t, 3) for t in ts]}),
                  flush=True)

    if _export_dirs or _clone_dirs:
        import shutil
        for d in _export_dirs + _clone_dirs:
            shutil.rmtree(d, ignore_errors=True)
    if {"constraints_audit_meta", "constraints_audit_scan"} & set(OPS):
        # the fixture tables persist in --out across invocations:
        # leaving a declaration behind would silently add enforcement
        # cost to future merge/purge cycle measurements
        from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
            drop_table_constraints,
        )

        for scale in scales:
            drop_table_constraints(_merge_dir(scale))

    summary = {}
    for name, r in results.items():
        if 1 not in r or 30 not in r:
            continue  # scoped smoke run: no slope to report
        slope = math.log(r[30] / r[1]) / math.log(30)
        summary[name] = {"t1": r[1], "t10": r.get(10), "t30": r[30],
                         "slope": round(slope, 2)}
    if not summary:
        return
    print(json.dumps({"metric": "scaling_slopes", "ops": summary}))
    try:
        with open(os.path.join(REPO, "BENCH_LOG.jsonl"), "a") as fh:
            fh.write(json.dumps({"ts": round(time.time()),
                                 "metric": "scaling_slopes",
                                 "ops": summary}) + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
