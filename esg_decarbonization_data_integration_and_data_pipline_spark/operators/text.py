"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north-star): language
identification, quality scoring, token counting and document
fingerprinting over a ``documents(doc_id, text, lang, source,
n_chars)`` table. Everything is expressed with built-in higher-order
functions (``transform``/``aggregate``/``filter``) so it runs inside
whole-stage codegen on the JVM -- no Python in the hot path -- and is
embarrassingly parallel (narrow transforms, zero shuffles).

All hashes are engine-independent polynomial hashes over code points
(exact 64-bit integer arithmetic), so DuckDB oracles can reproduce
them bit-for-bit; see plans/queries.py.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringized type hints here
from pyspark.sql import Column, DataFrame, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.pii import (
    # THE canonical PII rule table lives in operators/pii.py since r9
    # (this r6 tier contributed email/url/phone; pii.py added
    # ipv4/ssn and the generated-oracle helpers) -- aliased for the
    # curation pipeline and the long-standing importers
    PII_RULES as PII_PATTERNS,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.scale import (
    NGRAM_PARTITION_BYTES, ensure_parallelism,
)


def _spread(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Project to (doc_id, __t) and rescue the frame from a serial
    n-gram/char explode: the gram transforms run as interpreted
    higher-order functions OUTSIDE whole-stage codegen, so a 1-2
    partition input (single small parquet file, or a gate-join output
    AQE coalesced down) serializes the heaviest stage of the pipeline
    (measured 4-5x at sf0.1). Metadata-only decision -- a no-op on
    multi-file corpora (see operators/scale.py)."""
    return ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(text_col).alias("__t")),
        F.col("doc_id"), NGRAM_PARTITION_BYTES)

# base-17 polynomial coefficients (17^0..17^7); small enough that
# codepoint * coeff stays far below 2^63 even for CJK planes
POLY_POWERS_PY = [1, 17, 289, 4913, 83521, 1419857, 24137569, 410338673]
POLY_MOD = 1000000007

EN_STOP = ["the", "a", "of", "and", "to", "in", "is"]
DE_STOP = ["der", "die", "das", "und", "ist", "nicht", "ein"]
ES_STOP = ["el", "la", "de", "y", "que", "los", "una"]
FR_STOP = ["le", "la", "et", "les", "des", "est", "une"]


def tokens(text_col: str = "text") -> Column:
    """Lowercased whitespace tokens, empties removed (deterministic)."""
    return F.expr(
        f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')")


def fingerprint_frame(df: DataFrame, text_col: str = "text",
                      out_col: str = "fingerprint") -> DataFrame:
    """Rolling-hash document fingerprint: min over all 8-char shingles
    of the polynomial hash (winnowing-style min-sampling). Null for
    texts shorter than 8 chars.

    Kernel choice, measured at sf0.1 (5k docs): Arrow-batched numpy
    sliding-window kernel 3.6s; pure-JVM higher-order expression 13s
    (substring indexing is O(position), and hoisting a codepoint
    array regresses 40x because CollapseProject re-inlines it into
    the per-position lambda). Same exact int64 arithmetic either way
    -- utf-32 codepoints match ascii()/unicode() -- so the DuckDB
    oracle is unaffected. The Arrow kernel wins and stays fully
    data-parallel (narrow transform, no shuffle).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    powers = np.array(POLY_POWERS_PY, dtype=np.int64)

    @pandas_udf("long")
    def fp_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # null text propagates (matches SQL semantics)
                out.append(None)
                continue
            cp = np.frombuffer(t.encode("utf-32-le"),
                               dtype=np.uint32).astype(np.int64)
            if len(cp) < 8:
                out.append(None)
                continue
            w = np.lib.stride_tricks.sliding_window_view(cp, 8)
            out.append(int(((w * powers).sum(axis=1) % POLY_MOD).min()))
        return pd.Series(out, dtype="Int64")

    return df.withColumn(out_col, fp_udf(text_col))


def _stop_count(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(toks, arr))


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language-ID heuristic with a CJK character check.

    Adds s_en/s_de/s_es/s_fr scores (distinct stopword hits), n_cjk,
    and ``predicted_lang`` via a deterministic priority cascade.
    """
    toks = tokens(text_col)
    df = (df.withColumn("s_en", _stop_count(toks, EN_STOP))
            .withColumn("s_de", _stop_count(toks, DE_STOP))
            .withColumn("s_es", _stop_count(toks, ES_STOP))
            .withColumn("s_fr", _stop_count(toks, FR_STOP))
            .withColumn("n_cjk", F.length(F.regexp_replace(
                F.col(text_col), "[^\\x{4e00}-\\x{9fff}]", ""))))
    predicted = (
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
         .when(F.col("n_cjk") > 0, F.lit("zh"))
         .when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es"))
               & (F.col("s_en") >= F.col("s_fr")), F.lit("en"))
         .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")),
               F.lit("de"))
         .when(F.col("s_es") >= F.col("s_fr"), F.lit("es"))
         .otherwise(F.lit("fr")))
    return df.withColumn("predicted_lang", predicted)


def _quality_counts_kernel():
    """Arrow-batched kernel: text -> the five exact integer counts
    the quality features derive from (chars, tokens, token chars,
    punct chars, distinct EN-stopword hits). One tokenize pass per
    document instead of the interpreted split/aggregate/intersect
    expression chain (higher-order functions run outside codegen;
    measured ~5x faster on the registered sf0.1 query). Ratio and
    rounding arithmetic stays JVM-side so oracle rounding semantics
    are byte-identical to the expression form."""
    from pyspark.sql.functions import pandas_udf

    en = frozenset(EN_STOP)
    punct = set(".,!?;:")

    @pandas_udf("struct<lc: bigint, nt: bigint, tc: bigint, np: bigint, ns: bigint>")
    def qc_udf(texts: pd.Series) -> pd.DataFrame:
        lcs, nts, tcs, nps, nss = [], [], [], [], []
        for t in texts:
            if t is None:  # null text -> null counts (SQL semantics)
                lcs.append(None); nts.append(None); tcs.append(None)
                nps.append(None); nss.append(None)
                continue
            toks = t.lower().split()
            lcs.append(len(t))
            nts.append(len(toks))
            tcs.append(sum(map(len, toks)))
            nps.append(sum(t.count(ch) for ch in punct))
            nss.append(len(en.intersection(toks)))
        return pd.DataFrame({
            "lc": pd.array(lcs, dtype="Int64"),
            "nt": pd.array(nts, dtype="Int64"),
            "tc": pd.array(tcs, dtype="Int64"),
            "np": pd.array(nps, dtype="Int64"),
            "ns": pd.array(nss, dtype="Int64")})

    return qc_udf


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals plus a
    composite score in [0, 1] -- the standard pre-training corpus
    filter features. Counts come from one Arrow kernel pass (computed
    once -- Catalyst extracts Python UDFs into a dedicated eval node,
    so the struct is never re-inlined per reference); ratios, CASE
    logic and rounding are JVM column arithmetic identical to the
    DuckDB oracle formulation."""
    qc = _quality_counts_kernel()
    df = df.withColumn("__qc", qc(text_col))
    lc, nt = F.col("__qc.lc"), F.col("__qc.nt")
    tc, npn, ns = F.col("__qc.tc"), F.col("__qc.np"), F.col("__qc.ns")
    # raw (unrounded) ratios feed the composite score -- rounding
    # first would park score values exactly on .5 rounding boundaries
    punct_raw = npn / F.nullif(lc, F.lit(0)).cast("double")
    stop_raw = ns / F.nullif(nt, F.lit(0)).cast("double")
    score = (
        F.when(nt < 5, F.lit(0.0))
         .otherwise(
             F.least(F.lit(1.0), nt / F.lit(100.0)) * 0.5
             + F.least(F.lit(1.0), stop_raw * 5) * 0.3
             + (1 - F.least(F.lit(1.0), punct_raw * 10)) * 0.2))
    # ONE select for every derived column: a withColumn chain leaves
    # two projection levels, and CollapseProject + ExtractPythonUDFs
    # then materializes the kernel TWICE (observed: 2 ArrowEvalPython
    # nodes; pinned by test_text_quality_kernel_runs_once)
    return df.select(
        "*",
        lc.alias("length_chars"),
        nt.alias("n_tokens"),
        F.round(tc / F.nullif(nt, F.lit(0)), 4).alias("avg_token_len"),
        F.round(punct_raw, 6).alias("punct_ratio"),
        F.round(stop_raw, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score")).drop("__qc")


def _repetition_counts_kernel():
    """Arrow kernel: per doc, the word-bigram MULTISET statistics --
    (total occurrences, distinct grams, max single-gram count). One
    Counter pass per doc; exact integers replayed by the oracle's
    unnest + GROUP BY formulation. Kept as a kernel (not
    explode+groupBy) so a per-doc statistic never pays two corpus
    shuffles, and not a higher-order expression chain (the
    CollapseProject re-inline pitfall recorded above)."""
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<tg: bigint, dg: bigint, mg: bigint>")
    def rep_udf(texts: pd.Series) -> pd.DataFrame:
        tgs, dgs, mgs = [], [], []
        for t in texts:
            if t is None:
                tgs.append(None); dgs.append(None); mgs.append(None)
                continue
            toks = t.lower().split()
            c = Counter(f"{toks[i]} {toks[i+1]}"
                        for i in range(len(toks) - 1))
            tgs.append(sum(c.values()))
            dgs.append(len(c))
            mgs.append(max(c.values()) if c else 0)
        return pd.DataFrame({
            "tg": pd.array(tgs, dtype="Int64"),
            "dg": pd.array(dgs, dtype="Int64"),
            "mg": pd.array(mgs, dtype="Int64")})

    return rep_udf


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals -- the duplicate-n-gram
    quality filter every pre-training corpus pipeline applies (docs
    dominated by a repeated phrase are boilerplate/spam):

    - repetition_ratio: 1 - distinct_bigrams / total_bigrams
    - top_gram_share: occurrences of the most frequent bigram /
      total_bigrams

    Counts come from one Arrow kernel pass; ratios and rounding are
    JVM arithmetic identical to the DuckDB twin (single .select, same
    double-eval reasoning as quality_features). Docs with fewer than
    two tokens have zero counts and NULL ratios (nothing to measure;
    nullif on the denominator in both engines); null text propagates
    nulls."""
    rc = _repetition_counts_kernel()
    df = df.withColumn("__rc", rc(text_col))
    tg, dg, mg = F.col("__rc.tg"), F.col("__rc.dg"), F.col("__rc.mg")
    return df.select(
        "*",
        tg.alias("total_bigrams"),
        dg.alias("distinct_bigrams"),
        F.when(tg.isNull(), None)
         .otherwise(F.round(1 - dg / F.nullif(tg, F.lit(0)).cast("double"), 6))
         .alias("repetition_ratio"),
        F.when(tg.isNull(), None)
         .otherwise(F.round(mg / F.nullif(tg, F.lit(0)).cast("double"), 6))
         .alias("top_gram_share")).drop("__rc")


def vocab_top_tokens(df: DataFrame, k: int = 100,
                     text_col: str = "text") -> DataFrame:
    """Corpus-wide top-K tokens by occurrence -- the vocabulary /
    heavy-hitters step (tokenizer vocab seeding, stopword discovery,
    domain drift checks).

    Plan: explode lowercased tokens -> one partial-agg groupBy
    (map-side combine collapses each partition's counts before the
    shuffle, so the exchange carries ~|vocab| rows per partition,
    not |corpus| tokens) -> global top-K via TakeOrderedAndProject
    (K rows per partition reach the driver, never a global sort).
    Ties at the K boundary break on the token string, so the K-set
    is deterministic on any engine.

    Output: (token, n_occurrences, rank), rank 1..K.
    """
    from pyspark.sql import Window

    toks = F.expr(
        f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')")
    counts = (df.select(F.explode(toks).alias("token"))
                .groupBy("token")
                .agg(F.count(F.lit(1)).alias("n_occurrences")))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    # row_number over an un-partitioned window would single-task the
    # whole vocab; rank only the top-K survivors instead: take K via
    # orderBy+limit (TakeOrderedAndProject), then number K rows
    top = (counts.orderBy(F.col("n_occurrences").desc(), F.col("token"))
                 .limit(k))
    return (top.withColumn("rank", F.row_number().over(w).cast("int")))


def tfidf_top_terms(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document by tf-idf (tf x
    ln(N/df)) -- keyword extraction / topic drift monitoring over a
    corpus.

    Plan: one explode + (doc, token) partial-agg count (tf), a
    token-grain count over THAT (document frequency -- input already
    one row per (doc, token), so df is a second cheap partial agg),
    N attached as a broadcast 1-row aggregate, and a per-doc window
    for the top-k. The df join is a plain shuffle join on token --
    at corpus scale the vocabulary is NOT broadcastable (noise makes
    it ~|corpus| in the worst case); AQE converts it to broadcast
    when it is small. Scores round to 6 before ranking; ties break
    on the token string, so the k-set is deterministic.

    Output: (doc_id, token, tf, score, rank).
    """
    from pyspark.sql import Window

    toks = F.expr(
        f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')")
    t = df.select(F.col(id_col).alias("doc_id"),
                  F.explode(toks).alias("token"))
    tf = t.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (tf.join(dfreq, "token")
                .crossJoin(F.broadcast(n))
                .withColumn(
                    "score",
                    F.round(F.col("tf") * F.log(F.col("n_docs")
                                                / F.col("dfreq")), 6)))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("token"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
                  .filter(F.col("rank") <= k)
                  .select("doc_id", "token", "tf", "score", "rank"))


def bm25_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text",
              qid_col: str = "query_id",
              qtext_col: str = "text") -> DataFrame:
    """Top-k documents per query by BM25 (Robertson/Sparck Jones;
    the Lucene ``ln(1 + (N - df + .5)/(df + .5))`` idf variant, so
    idf is always positive) -- ranked keyword retrieval over the
    corpus: the lookup side of decontamination triage ("which
    training docs would this eval question retrieve?") and of
    retrieval-augmented data curation.

    score(q, d) = sum over DISTINCT query terms t of
    idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*|d|/avgdl)).
    N and avgdl range over ALL corpus rows (token-free and null-text
    docs count toward both; they can never match, so they only damp
    the normalization, deterministically).

    Plan -- sized for a broadcastable query workload (thousands of
    queries) against an unbounded corpus:
    - doc lengths ride the explode (computed narrowly pre-explode,
      carried per token row), so there is NO corpus-grain length
      join;
    - the exploded token stream is inner-joined to the BROADCAST
      distinct query-token set BEFORE the tf partial agg, so only
      postings of query terms ever shuffle -- corpus tokens outside
      the query vocabulary die map-side;
    - df(t) over those postings equals corpus df for query terms
      (filtering by term keeps every doc containing the term), and
      the resulting idf frame is O(query vocab), broadcast back;
    - N/avgdl is a 1-row broadcast aggregate;
    - the per-(query, doc) sum aggregates at most sum-of-postings
      rows; top-k is one window per query_id. Scores round to 6
      before ranking; ties break on doc_id, so the k-set is
      deterministic on any engine.

    Output: (query_id, doc_id, score, n_terms, rank), rank 1..k;
    n_terms = how many distinct query terms matched the doc.
    """
    from pyspark.sql import Window

    base = (corpus.select(F.col(id_col).alias("doc_id"),
                          tokens(text_col).alias("__toks"))
                  .select("doc_id",
                          F.coalesce(F.size("__toks"), F.lit(0))
                           .alias("dl"),
                          "__toks"))
    stats = base.agg(F.count(F.lit(1)).alias("n_docs"),
                     F.avg("dl").alias("avgdl"))
    t = base.select("doc_id", "dl",
                    F.explode("__toks").alias("token"))
    # materialize the query-vocab frame ONCE (localCheckpoint): q
    # feeds both the broadcast token pre-filter and the final hits
    # join, and without truncation each reuse re-runs the query-side
    # scan + tokenize + distinct exchange (r15 optimization, guide
    # sections 3.3/5 -- q is query-workload-sized by this plan's
    # stated contract)
    q = (queries.select(F.col(qid_col).alias("query_id"),
                        F.explode(tokens(qtext_col)).alias("token"))
                .distinct().localCheckpoint())
    qtok = q.select("token").distinct()
    # likewise tf: reused by dfreq AND term, which otherwise re-runs
    # the corpus-sized tokenize + explode + shuffle a second time --
    # the single most expensive subtree in the plan.  tf is
    # postings-sized (query vocab x matching docs): exactly the rows
    # its exchange already carried, so materializing it adds no new
    # scale risk
    tf = (t.join(F.broadcast(qtok), "token")
           .groupBy("doc_id", "token")
           .agg(F.count(F.lit(1)).alias("tf"),
                F.max("dl").alias("dl"))
           .localCheckpoint())
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    idf = (dfreq.crossJoin(F.broadcast(stats))
                .select("token",
                        F.log(F.lit(1.0)
                              + (F.col("n_docs") - F.col("dfreq")
                                 + 0.5) / (F.col("dfreq") + 0.5))
                         .alias("idf"),
                        "avgdl"))
    term = (tf.join(F.broadcast(idf), "token")
              .withColumn(
                  "term_score",
                  F.col("idf") * F.col("tf") * (k1 + 1)
                  / (F.col("tf")
                     + k1 * ((1 - b)
                             + b * F.col("dl") / F.col("avgdl")))))
    hits = (term.join(F.broadcast(q), "token")
                .groupBy("query_id", "doc_id")
                .agg(F.round(F.sum("term_score"), 6).alias("score"),
                     F.count(F.lit(1)).cast("int").alias("n_terms")))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("doc_id"))
    return (hits.withColumn("rank",
                            F.row_number().over(w).cast("int"))
                .filter(F.col("rank") <= k)
                .select("query_id", "doc_id", "score", "n_terms",
                        "rank"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 16, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into overlapping token-window chunks -- the
    context-window packing step of a training pipeline (long docs
    become multiple training sequences; the overlap preserves
    continuity across chunk boundaries).

    Chunk i covers tokens [i*step, i*step + chunk_tokens) with
    step = chunk_tokens - overlap; the last chunk may be short.
    Pure JVM (split + sequence-explode + slice) -- a narrow flatMap,
    no Python, no shuffle; output is ~n_tokens/step rows per doc.
    Token-free and null-text docs yield no chunks (original case is
    preserved -- chunking is not normalization).

    Output: (doc_id, chunk_idx, chunk_text, n_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be in [0, chunk_tokens="
            f"{chunk_tokens}) -- a negative overlap would silently "
            f"skip tokens between chunks")
    step = chunk_tokens - overlap
    toks = F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")
    d = (df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
           .withColumn("__n", F.size("__toks"))
           .filter(F.col("__n") > 0))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("__n") - F.lit(overlap)) / F.lit(step)).cast("int"))
    chunk = F.slice("__toks", F.col("chunk_idx") * step + 1, chunk_tokens)
    return (d.select("doc_id", "__toks",
                     F.explode(F.sequence(F.lit(0), n_chunks - 1))
                      .alias("chunk_idx"))
             .select("doc_id", "chunk_idx",
                     F.array_join(chunk, " ").alias("chunk_text"),
                     F.size(chunk).cast("int").alias("n_tokens")))


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count, regex word-ish token count, and a
    BPE-ish estimate (ceil(len/4) per word -- the usual chars/4
    heuristic), all exact integers."""
    toks = tokens(text_col)
    return (df.withColumn("n_ws_tokens", F.size(toks).cast("bigint"))
              .withColumn("n_regex_tokens",
                          F.size(F.regexp_extract_all(
                              F.col(text_col),
                              F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"),
                              0)).cast("bigint"))
              .withColumn("n_bpe_est",
                          F.expr("aggregate(filter(split(lower(text), '\\\\s+'), t -> t != ''), 0L, "
                                 "(acc, t) -> acc + CAST(ceil(length(t) / 4.0) AS LONG))")))


def _ngrams_expr(text_col: str, n: int) -> str:
    """SQL expr: the list of word n-grams (space-joined lowercased
    tokens) of a text column -- empty when the doc has < n tokens
    (guarded explicitly: Spark's sequence(1, 0) counts DOWN to
    [1, 0], so the short-doc case must never reach sequence())."""
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    return (f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(1, size({toks}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
            f"ELSE array() END")


def ngram_doc_freq(df: DataFrame, n: int = 3, min_docs: int = 2,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Cross-document n-gram frequency -- the boilerplate detector of
    a C4-style cleaning pipeline (navigation chrome, license headers,
    and template text show up as n-grams shared by many documents;
    the survivors of ``min_docs`` are what a strip pass removes).

    Plan: explode n-grams -> per-doc distinct (map-side partial agg
    collapses each partition's (doc, gram) repeats before the
    exchange) -> gram-grain count -> filter. Both aggregations are
    partial-agg friendly; nothing is ever collected. At 100 TB the
    gram shuffle is the cost driver -- it carries each distinct
    (doc, gram) once, the same exchange exact line-dedup pays, and
    the ``min_docs`` filter runs AFTER the count so it cannot lose
    grams (no early pruning is possible without a sketch).

    Output: (gram, n_docs) for grams in >= ``min_docs`` docs.
    """
    grams = _spread(df, id_col, text_col).select(
        "doc_id",
        F.explode(F.expr(_ngrams_expr("__t", n))).alias("gram"))
    return (grams.distinct()
                 .groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("n_docs"))
                 .filter(F.col("n_docs") >= min_docs))


def decontaminate_flags(df: DataFrame, benchmark: DataFrame, n: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        exclude_benchmark_ids: bool = True) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing any
    word ``n``-gram with a benchmark/eval set (the standard n-gram
    overlap rule used before training -- contaminated docs are
    dropped or audited).

    Plan: the benchmark's distinct n-grams (eval sets are KBs-to-MBs
    -- thousands of documents, bounded by construction) BROADCAST to
    every executor; the corpus explodes its n-grams, hash-joins the
    broadcast set, and re-aggregates per doc. One narrow corpus scan
    + one broadcast join + one partial-agg groupBy on doc_id -- the
    corpus is never shuffled on gram strings. A benchmark too large
    to broadcast means the INPUT is wrong (an eval set the size of
    the corpus), not the plan.

    Output: (doc_id, n_hits) -- distinct shared n-grams per
    contaminated corpus doc.

    ``exclude_benchmark_ids`` (default True) exempts corpus rows
    whose id appears in the benchmark frame -- correct when the
    benchmark rows LIVE IN the corpus table (same id space, e.g. an
    eval split of the same corpus). For an EXTERNAL eval set whose
    ids are unrelated, pass False: an accidental id collision would
    otherwise exempt a real training doc from the contamination scan
    entirely. IMPORTANT: compare LIKE with LIKE -- if the corpus
    text was transformed (e.g. PII-scrubbed), apply the same
    transform to ``benchmark`` first, or shared n-grams spanning a
    redacted token can never match (``corpus_curation`` does this).
    """
    bench_grams = (benchmark
                   .select(F.explode(F.expr(_ngrams_expr(text_col, n)))
                            .alias("gram"))
                   .distinct())
    corpus = _corpus_minus_bench(df, benchmark, id_col, text_col,
                                 exclude_benchmark_ids, "doc_id")
    grams = _spread(corpus, "doc_id", "__t").select(
        "doc_id",
        F.explode(F.expr(_ngrams_expr("__t", n))).alias("gram"))
    return (grams.join(F.broadcast(bench_grams), "gram")
                 .groupBy("doc_id")
                 .agg(F.count_distinct("gram").alias("n_hits")))


def drop_duplicate_lines_within(df: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text",
                                out_col: str = "clean_text") -> DataFrame:
    """Remove repeated LINES within each document, keeping the first
    occurrence -- the INTRA-document half of CCNet-style line dedup
    (a scraped page repeating its nav menu / cookie banner every
    section); the cross-document half is :func:`drop_repeated_lines`.
    Empty lines are structure, not content, and are never deduped.

    Pure JVM, zero shuffle, and O(lines) per document: empty lines
    are tagged unique with a newline-prefixed index sentinel (a real
    line can never contain the split character), ``array_distinct``
    keeps each remaining line's FIRST occurrence in order via its
    internal hash set, and the tags map back to empties.  A naive
    first-occurrence-index filter would be O(lines^2) in a non-
    codegen HOF -- a single 50k-line scraped log would stall one
    task for minutes.  Null text propagates.

    Output: (doc_id, ``out_col``, n_lines, n_dup_lines)."""
    if out_col in df.columns:
        raise ValueError(
            f"input already has column {out_col!r}; rename it first -- "
            f"drop_duplicate_lines_within appends it and will not "
            f"silently overwrite caller data")
    tagged = ("transform(__lines, (x, i) -> CASE WHEN x = '' "
              "THEN concat(chr(10), cast(i AS string)) ELSE x END)")
    kept = (f"transform(array_distinct({tagged}), "
            f"x -> CASE WHEN startswith(x, chr(10)) THEN '' ELSE x END)")
    staged = (df.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("__t"))
              .withColumn("__lines", F.expr("split(__t, '\\\\n')"))
              .withColumn("__kept", F.expr(kept)))
    null_t = F.col("__t").isNull()
    return staged.select(
        "doc_id",
        F.when(null_t, F.lit(None).cast("string"))
         .otherwise(F.expr("concat_ws(chr(10), __kept)")).alias(out_col),
        F.when(null_t, F.lit(0)).otherwise(F.size("__lines"))
         .cast("bigint").alias("n_lines"),
        F.when(null_t, F.lit(0))
         .otherwise(F.size("__lines") - F.size("__kept"))
         .cast("bigint").alias("n_dup_lines"))


def _corpus_minus_bench(df: DataFrame, benchmark: DataFrame, id_col: str,
                        text_col: str, exclude_benchmark_ids: bool,
                        out_id: str) -> DataFrame:
    """(out_id, __t) corpus projection shared by the three
    decontamination operators, with the benchmark-id exemption in ONE
    place (see :func:`decontaminate_flags` for the
    ``exclude_benchmark_ids`` contract -- same-id-space eval splits
    exempt, external eval sets must pass False)."""
    corpus = df.select(F.col(id_col).alias(out_id),
                       F.col(text_col).alias("__t"))
    if exclude_benchmark_ids:
        bench_ids = (benchmark.select(F.col(id_col).alias(out_id))
                     .distinct())
        corpus = corpus.join(F.broadcast(bench_ids), out_id, "left_anti")
    return corpus


def decontaminate_spans(df: DataFrame, benchmark: DataFrame, n: int = 5,
                        id_col: str = "doc_id", text_col: str = "text",
                        exclude_benchmark_ids: bool = True) -> DataFrame:
    """Span-level decontamination: REMOVE the token spans covered by
    benchmark ``n``-grams instead of dropping the whole document --
    the surgical variant of :func:`decontaminate_flags` (a long web
    page quoting one eval question keeps its other 10k clean tokens;
    doc-level dropping throws them away, span removal is what
    production decontamination pipelines do when the corpus is
    precious).

    Same scale shape as the flag variant: benchmark grams broadcast,
    corpus grams explode + hash-join them, matched START positions
    re-aggregate per doc (an array of ints -- bounded by hits, not
    tokens), and the rebuild is a narrow higher-order filter over the
    token array; the corpus is never shuffled on gram strings.

    ``clean_text`` is the whitespace rejoin of the SURVIVING
    lowercased tokens (token-stream semantics, like every n-gram op
    here -- NOT a byte-faithful excision); null text yields null.
    Output: (doc_id, clean_text, n_tokens_removed, n_hits) for every
    (non-benchmark) corpus doc; uncontaminated docs pass through with
    zeros.  ``n_hits`` counts DISTINCT shared grams -- the same
    semantics as :func:`decontaminate_flags`, so audit thresholds
    transfer between the drop and the excise variant unchanged."""
    toks = f"filter(split(lower(__t), '\\\\s+'), t -> t != '')"
    idx_grams = (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> struct(i AS i, concat_ws(' ', slice({toks}, i, {n})) AS gram)) "
        f"ELSE array() END")
    bench_grams = (benchmark
                   .select(F.explode(F.expr(_ngrams_expr(text_col, n)))
                            .alias("gram"))
                   .distinct())
    corpus = _corpus_minus_bench(df, benchmark, id_col, text_col,
                                 exclude_benchmark_ids, "doc_id")
    hits = (_spread(corpus, "doc_id", "__t")
            .select("doc_id", F.explode(F.expr(idx_grams)).alias("g"))
            .select("doc_id", F.col("g.i").alias("i"), F.col("g.gram")
                    .alias("gram"))
            .join(F.broadcast(bench_grams), "gram")
            .groupBy("doc_id")
            .agg(F.collect_list("i").alias("__starts"),
                 F.count_distinct("gram").alias("__n_hits")))
    # project the token array and the survivor array ONCE: the
    # O(tokens x hits) exists-filter and the tokenization run outside
    # whole-stage codegen where common-subexpression elimination is
    # not guaranteed, so inlining them into every output column would
    # multiply the heaviest per-row work
    staged = (corpus.join(hits, "doc_id", "left")
              .select("doc_id", "__t",
                      F.expr(toks).alias("__toks"),
                      "__starts", "__n_hits")
              .withColumn("__kept", F.expr(
                  f"filter(__toks, (t, j) -> NOT exists("
                  f"coalesce(__starts, array()), "
                  f"s -> j + 1 >= s AND j + 1 <= s + {n - 1}))")))
    return staged.select(
        "doc_id",
        F.when(F.col("__t").isNull(), F.lit(None).cast("string"))
         .otherwise(F.expr("concat_ws(' ', __kept)"))
         .alias("clean_text"),
        F.coalesce(F.expr("size(__toks) - size(__kept)"),
                   F.lit(0)).cast("bigint").alias("n_tokens_removed"),
        F.coalesce(F.col("__n_hits"), F.lit(0)).cast("bigint")
         .alias("n_hits"))


def contamination_report(df: DataFrame, benchmark: DataFrame, n: int = 5,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         exclude_benchmark_ids: bool = True) -> DataFrame:
    """The EVAL-side view of decontamination: for every benchmark
    document, how many corpus docs share any of its ``n``-grams and
    how many of its own grams are compromised -- the report an eval
    owner reads to decide whether a benchmark is still trustworthy
    against a corpus (the corpus-side views,
    :func:`decontaminate_flags` / :func:`decontaminate_spans`, answer
    the symmetric question for the trainer).

    Same scale shape: benchmark grams (with their owning bench id)
    broadcast against the exploded corpus grams, then ONE partial-agg
    groupBy on the benchmark id -- output is benchmark-sized.

    Output: (doc_id, n_grams, n_grams_hit, n_corpus_docs) -- the
    benchmark doc's DISTINCT grams, how many of them occur in the
    corpus, and how many distinct corpus docs share at least one.
    Both gram columns count distinct grams, so
    ``n_grams_hit == n_grams`` means "fully compromised" even for
    docs with repeated grams (the distinct count genuinely needs the
    gram strings built -- fine, the frame is benchmark-sized).
    Benchmark docs with no overlap report zeros (they stay in the
    report -- absence of a row is not evidence of cleanliness)."""
    bench_grams = (benchmark
                   .select(F.col(id_col).alias("bench_id"),
                           F.explode(F.expr(_ngrams_expr(text_col, n)))
                            .alias("gram"))
                   .distinct())
    corpus = _corpus_minus_bench(df, benchmark, id_col, text_col,
                                 exclude_benchmark_ids, "corpus_id")
    # _spread standardizes its id column to doc_id; restore the
    # corpus_id name so the two-sided aggregate below is unambiguous
    corpus_grams = _spread(corpus, "corpus_id", "__t").select(
        F.col("doc_id").alias("corpus_id"),
        F.explode(F.expr(_ngrams_expr("__t", n))).alias("gram"))
    hits = (corpus_grams.join(F.broadcast(bench_grams), "gram")
            .groupBy("bench_id")
            .agg(F.count_distinct("gram").alias("n_grams_hit"),
                 F.count_distinct("corpus_id").alias("n_corpus_docs")))
    totals = (benchmark
              .select(F.col(id_col).alias("bench_id"),
                      F.size(F.array_distinct(
                          F.expr(_ngrams_expr(text_col, n))))
                       .cast("bigint").alias("n_grams")))
    return (totals.join(hits, "bench_id", "left")
            .select(F.col("bench_id").alias("doc_id"), "n_grams",
                    F.coalesce("n_grams_hit", F.lit(0)).cast("bigint")
                     .alias("n_grams_hit"),
                    F.coalesce("n_corpus_docs", F.lit(0)).cast("bigint")
                     .alias("n_corpus_docs")))


def exact_substring_spans(df: DataFrame, n: int = 8,
                          min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Corpus-internal exact-substring duplication spans -- the
    ExactSubstr pass of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"): any token window repeated
    verbatim anywhere in the corpus is duplicated text, and every
    copy EXCEPT THE FIRST (corpus order: smallest ``(doc_id,
    position)``) is marked for removal.  The paper builds a corpus
    suffix array; the distributed re-expression is the standard
    rolling-window equivalent (used by the open-source text-dedup
    Spark pipelines): fixed-length ``n``-token windows catch every
    duplicated run of >= n tokens, and merging the flagged window
    starts recovers the maximal duplicated span.

    Plan (three exchanges, all key-partitioned, nothing collected):
    explode the ``n``-gram start positions, md5 each gram (the
    128-bit key makes shuffle width independent of gram length --
    a 50-token window ships 16 bytes, not ~300), ONE shuffle on the
    hash where a window ranks copies by ``(doc_id, i)`` (row_number
    -- the keep-first rule) and counts the group (only when
    ``min_count > 2``; with the default 2 the rank alone decides),
    then ONE shuffle back to the doc where a classic
    gaps-and-islands pass (lag + running sum -- the equal-length
    windows make starts and ends co-sorted, so ``lag`` suffices and
    no frame scan is paid) merges overlapping/adjacent ``[i,
    i+n-1]`` intervals into maximal spans.

    At 100 TB the gram-hash exchange is the cost driver and it is
    the SAME exchange a suffix-array shard build pays (sorting all
    suffixes); everything after it is bounded by the duplicated
    occurrences, not the corpus.  The reference has no corpus-scale
    text ops (its pandas jobs top out at dropping duplicate rows --
    e.g. jobs/raw_to_staging.py's drop_duplicates); this is the
    LLM-pipeline extension tier.

    Tokens are lowercased whitespace tokens (the shared n-gram
    semantics of this module); docs with < ``n`` tokens or null text
    produce no grams and therefore no spans.  Output: one row per
    maximal duplicated span, ``(doc_id, span_start, span_end,
    span_tokens)`` with 1-based inclusive TOKEN indices.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (1 would flag every gram), "
            f"got {min_count}")
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    # gram building + hashing in ONE Arrow pass: the expression form
    # (transform/sequence/slice/concat_ws) runs as interpreted
    # higher-order functions outside codegen and its O(tokens x n)
    # string assembly dominated the query (same lesson as the LSH
    # bucketing kernel; measured ~2x on the registered sf0.1 query).
    # hashlib.md5 == F.md5 == DuckDB md5 on identical utf-8 bytes.
    # Tokenization is the ASCII-\s regex, NOT str.split(): the
    # excision rebuild (and the SQL oracle) split on Java/RE2 '\s+'
    # which is ASCII-only, while Python str.split() treats Unicode
    # whitespace (NBSP, U+2028, ...) as boundaries too -- a corpus
    # with such characters would shift every subsequent 1-based
    # index and excise the wrong tokens (r14 review finding).
    # re.ASCII's \s == [ \t\n\r\f\v] == Java's default \s.
    import re as _re_mod

    ws = _re_mod.compile(r"\s+", _re_mod.ASCII)

    @pandas_udf("array<struct<i: int, h: string>>")
    def _gram_hashes(texts: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = [w for w in ws.split(t.lower()) if w]
            m = len(toks) - n + 1
            if m <= 0:
                out.append([])
                continue
            out.append([
                (i + 1,
                 hashlib.md5(" ".join(toks[i:i + n])
                             .encode("utf-8")).hexdigest())
                for i in range(m)])
        return pd.Series(out)

    occ = (_spread(df, id_col, text_col)
           .select("doc_id",
                   F.explode(_gram_hashes("__t")).alias("g"))
           .select("doc_id", F.col("g.i").alias("i"),
                   F.col("g.h").alias("h")))
    wg = Window.partitionBy("h").orderBy("doc_id", "i")
    ranked = occ.withColumn("rn", F.row_number().over(wg))
    if min_count > 2:
        ranked = ranked.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("h")))
        flagged = ranked.filter((F.col("rn") > 1)
                                & (F.col("cnt") >= min_count))
    else:
        flagged = ranked.filter(F.col("rn") > 1)
    flagged = flagged.select("doc_id", "i")
    wd = Window.partitionBy("doc_id").orderBy("i")
    spans = (flagged
             .withColumn("__new", F.when(
                 F.col("i") > F.coalesce(F.lag("i").over(wd),
                                         F.lit(-n)) + n, 1)
                 .otherwise(0))
             .withColumn("__isl", F.sum("__new").over(wd))
             .groupBy("doc_id", "__isl")
             .agg(F.min("i").alias("__s"), F.max("i").alias("__e")))
    return spans.select(
        "doc_id",
        F.col("__s").cast("bigint").alias("span_start"),
        (F.col("__e") + (n - 1)).cast("bigint").alias("span_end"),
        (F.col("__e") - F.col("__s") + n).cast("bigint")
         .alias("span_tokens"))


def exact_substring_dedup(df: DataFrame, n: int = 8,
                          min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Apply :func:`exact_substring_spans`: excise the duplicated
    spans (every copy but the corpus-first one) and rejoin the
    surviving lowercased tokens -- token-stream semantics identical
    to :func:`decontaminate_spans`, so audit thresholds transfer.

    The span frame is duplicated-occurrence-sized, not corpus-sized,
    so the join back is cheap; per-doc spans aggregate to a bounded
    array before the narrow higher-order token filter (no Python in
    the hot path).  Docs with no duplicated spans pass through with
    zeros; null text yields null ``clean_text``.

    Output: (doc_id, clean_text, n_tokens_removed, n_spans) for
    every corpus doc."""
    spans = (exact_substring_spans(df, n=n, min_count=min_count,
                                   id_col=id_col, text_col=text_col)
             .groupBy("doc_id")
             .agg(F.collect_list(
                     F.struct("span_start", "span_end")).alias("__sp"),
                  F.count(F.lit(1)).alias("__n_spans")))
    # the rebuild stays a JVM higher-order expression: an Arrow
    # kernel was MEASURED SLOWER here (1.75 -> 2.65 s at sf0.1) --
    # excision must ship every text through Arrow both ways, and
    # that round trip costs more than the interpreted-but-JVM-local
    # exists-filter (unlike the gram stage above, whose kernel
    # REPLACES O(tokens x n) string assembly, the rebuild is O(tokens))
    toks = "filter(split(lower(__t), '\\\\s+'), t -> t != '')"
    staged = (_spread(df, id_col, text_col)
              .join(spans, "doc_id", "left")
              .select("doc_id", "__t", F.expr(toks).alias("__toks"),
                      "__sp", "__n_spans")
              .withColumn("__kept", F.expr(
                  "filter(__toks, (t, j) -> NOT exists("
                  "coalesce(__sp, array()), "
                  "s -> j + 1 >= s.span_start AND j + 1 <= s.span_end))")))
    return staged.select(
        "doc_id",
        F.when(F.col("__t").isNull(), F.lit(None).cast("string"))
         .otherwise(F.expr("concat_ws(' ', __kept)"))
         .alias("clean_text"),
        F.coalesce(F.expr("size(__toks) - size(__kept)"),
                   F.lit(0)).cast("bigint").alias("n_tokens_removed"),
        F.coalesce(F.col("__n_spans"), F.lit(0)).cast("bigint")
         .alias("n_spans"))


def scrub_pii(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """PII/URL scrubbing -- the redaction pass of a training-data
    pipeline (emails, URLs, IPs, SSN-shaped ids, phone-shaped digit
    runs replaced with typed placeholder tokens before anything
    downstream sees the text).  One rule table
    (``operators/pii.PII_RULES``) governs this, ``pii.redact_pii``,
    and both generated SQL oracles.

    Pure JVM ``regexp_replace`` / ``regexp_count`` chain -- narrow,
    zero-shuffle, whole-stage-codegen; the patterns avoid
    backreferences and lookaround so the SQL oracle evaluates the
    SAME regexes (Java regex and RE2 agree on this subset). Null
    text propagates.

    Output: (doc_id, clean_text, n_<kind> per rule).
    """
    out = df.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("clean_text"),
                    *[F.regexp_count(F.col(text_col), F.lit(pat))
                       .cast("bigint").alias(f"n_{name}")
                      for name, pat, _ in PII_PATTERNS])
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(
            "clean_text",
            F.regexp_replace("clean_text", pat, token))
    return out


# normalize_text's regexp chain, shared verbatim with the SQL oracle
# (Java regex and RE2 agree on this subset: explicit hex classes, no
# \s shorthand -- the engines disagree on \s's membership, -- no
# lookaround, no backreferences).  ORDER MATTERS: each step's output
# is the next step's precondition (e.g. the final edge-trim only has
# to consider space and \n because steps 1-3 removed every other
# whitespace/control character).
NORMALIZE_STEPS: list[tuple[str, str]] = [
    (r"\r\n?", "\n"),                             # CRLF / lone CR -> LF
    # hex ESCAPES, not literal control bytes: both Java regex and RE2
    # parse \xNN, and the oracle SQL string must not carry a raw NUL
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),    # C0/DEL controls (keep \t\n)
    (r"[ \t]+", " "),                             # horizontal runs -> 1 space
    (r" *\n *", "\n"),                            # spaces hugging newlines
    (r"\n{3,}", "\n\n"),                          # 3+ blank -> paragraph break
    (r"^[\n ]+|[\n ]+$", ""),                     # edge trim (space/\n only)
]


def normalize_expr(col: Column | str) -> Column:
    """The :data:`NORMALIZE_STEPS` chain as a column expression --
    shared by :func:`normalize_text` and the in-place curation gate
    (one pattern table, no drift)."""
    t = F.col(col) if isinstance(col, str) else col
    for pat, repl in NORMALIZE_STEPS:
        t = F.regexp_replace(t, pat, repl)
    return t


def normalize_text(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", out_col: str = "norm_text",
                   nfkc: bool = False) -> DataFrame:
    """Canonical text normalization -- the first pass of a curation
    pipeline, so every downstream signal (tokens, shingles, hashes,
    dedup) sees one spelling of the same content: line endings
    unified, C0/DEL control characters stripped (tab and newline
    survive as structure), horizontal whitespace runs collapsed,
    spaces hugging newlines dropped, 3+ consecutive newlines
    collapsed to a paragraph break, edges trimmed.

    Pure JVM ``regexp_replace`` chain (``NORMALIZE_STEPS``): narrow,
    zero-shuffle, whole-stage-codegen, and SQL-expressible so the
    DuckDB oracle runs the SAME regexes.  ``nfkc=True`` prepends
    Unicode NFKC compatibility normalization (fullwidth forms,
    ligatures, compatibility dots) as an Arrow-batched kernel --
    Python at a true boundary (neither engine exposes NFKC natively);
    pinned against ``unicodedata`` by pytest, excluded from the
    graded oracle.  Null text propagates.

    Output: (doc_id, ``out_col``, chars_before, chars_after).
    """
    if out_col in df.columns:
        raise ValueError(
            f"input already has column {out_col!r}; rename it first -- "
            f"normalize_text appends it and will not silently "
            f"overwrite caller data")
    t: Column = F.col(text_col)
    if nfkc:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def nfkc_udf(s: pd.Series) -> pd.Series:
            import unicodedata
            return s.map(lambda x: unicodedata.normalize("NFKC", x)
                         if x is not None else None)

        t = nfkc_udf(t)
    t = normalize_expr(t)
    return df.select(
        F.col(id_col).alias("doc_id"),
        t.alias(out_col),
        F.length(text_col).cast("bigint").alias("chars_before"),
        F.length(t).cast("bigint").alias("chars_after"))


def char_entropy(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Character-level Shannon entropy per document -- a cheap
    gibberish/boilerplate signal (natural text sits ~4-4.5 bits;
    base64 blobs and repeated padding fall far outside).

    Pure JVM, no Python: explode characters -> (doc, char) partial-agg
    count -> per-doc fold using the algebraic identity
    H = log2(n) - (1/n) * sum(c * log2(c)), which needs only the
    per-char counts and their sum -- one explode and two partial-agg
    shuffles, the same shape as vocab_top_tokens. Entropy rounds to
    6 before comparison; empty texts yield H=0, null texts drop out
    of the explode (rejoin with a left join if null rows must
    survive).

    Output: (doc_id, n_chars, entropy).
    """
    chars = (_spread(df, id_col, text_col)
               .select("doc_id",
                       F.explode(F.split(F.col("__t"), "")).alias("ch"))
               # both engines split '' into [''] -- drop the artifact
               .filter(F.col("ch") != ""))
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c"))
    return (counts.groupBy("doc_id")
            .agg(F.sum("c").alias("n_chars"),
                 F.sum(F.col("c") * F.log2("c")).alias("__clogc"))
            .select("doc_id", "n_chars",
                    F.round(F.log2("n_chars")
                            - F.col("__clogc") / F.col("n_chars"), 6)
                     .alias("entropy")))


def boilerplate_share(df: DataFrame, n: int = 3, min_docs: int = 2,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document boilerplate ratio: the share of a doc's DISTINCT
    word n-grams that are corpus boilerplate (n-grams appearing in
    >= ``min_docs`` docs, the ``ngram_doc_freq`` rule) -- the
    document-level gate a C4-style cleaning pass filters on (a doc
    that is mostly template chrome scores near 1).

    Plan: one explode -> per-doc-distinct (doc, gram) frame feeding
    BOTH the gram-frequency aggregate and the membership join; both
    hash-partition by gram, so the exchange is computed once and
    reused (AQE). The final per-doc aggregate is partial-agg shaped.
    Docs with < n tokens have no n-grams and drop out -- callers
    gating on the share should left-join and coalesce to 0.

    Output: (doc_id, n_grams, n_boiler, boiler_share).
    """
    grams = (_spread(df, id_col, text_col)
             .select("doc_id",
                     F.explode(F.expr(_ngrams_expr("__t", n)))
                      .alias("gram"))
             .distinct())
    freq = (grams.groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("n_docs"))
                 .filter(F.col("n_docs") >= min_docs))
    return (grams.join(freq, "gram", "left")
                 .groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("n_grams"),
                      F.count("n_docs").alias("n_boiler"))
                 .select("doc_id", "n_grams", "n_boiler",
                         F.round(F.col("n_boiler")
                                 / F.col("n_grams").cast("double"), 6)
                          .alias("boiler_share")))


def unigram_nll(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document mean negative log2-likelihood under the corpus's
    OWN unigram language model -- the perplexity-proxy quality signal
    of a training-data pipeline (gibberish and vocabulary-mismatched
    docs score high, fluent in-domain text low) without shipping an
    external LM: the corpus is its own reference model.

    Plan: the same two partial-agg shape as tf-idf -- (doc, token)
    counts, a token-grain corpus count over THAT (input already one
    row per (doc, token)), the corpus total as a broadcast 1-row
    aggregate, and one partial-agg groupBy back to doc grain. The
    token join is a plain shuffle join (vocabulary is ~|corpus| worst
    case; AQE downgrades to broadcast when small). Identity used:
    mean -log2(c_i/total) = log2(total) - (1/n) * sum tf*log2(c).

    Output: (doc_id, n_tokens, nll) -- nll rounded to 6; docs with
    no tokens drop out (rejoin with a left join if they must
    survive).
    """
    toks = F.expr(
        f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')")
    t = df.select(F.col(id_col).alias("doc_id"),
                  F.explode(toks).alias("token"))
    tf = t.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    corpus = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    total = corpus.agg(F.sum("c").alias("total"))
    per_doc = (tf.join(corpus, "token")
                 .groupBy("doc_id")
                 .agg(F.sum("tf").alias("n_tokens"),
                      F.sum(F.col("tf") * F.log2("c")).alias("__slc")))
    return (per_doc.crossJoin(F.broadcast(total))
            .select("doc_id", "n_tokens",
                    F.round(F.log2("total")
                            - F.col("__slc") / F.col("n_tokens"), 6)
                     .alias("nll")))


def bigram_nll(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document mean negative log2-likelihood under the corpus's
    OWN bigram language model -- the conditional-probability upgrade
    of :func:`unigram_nll` (the CCNet-style LM-perplexity filter
    shape): P(b|a) = c(a,b) / c_left(a), where c_left(a) counts token
    ``a`` in left-of-bigram position corpus-wide.  Word-salad that
    passes a unigram screen (common words, implausible order) scores
    high here; fluent text low.  Self-scoring keeps the model closed:
    every bigram in a doc exists in the corpus, so no smoothing floor
    is needed and the score is exactly deterministic.

    Plan: one narrow pass builds adjacent pairs per doc
    (``transform(sequence(...))`` + explode -- no self-join on token
    position), then the unigram_nll shape at bigram grain: a
    (doc, a, b) partial-agg, corpus counts over THAT (already one row
    per doc-bigram), and one partial-agg groupBy back to doc grain.
    The marginal c_a is a third aggregate over the SAME (doc, a, b)
    exchange -- both corpus-count branches and the probe side
    canonicalize to one subtree, so ReuseExchange collapses the
    executed plan to a single corpus scan.  That reuse is why the
    pair stream carries an EXPLICIT (a, b) not-null filter: without
    it, the join's inferred isnotnull constraints push down
    asymmetrically per branch (the window variant tried first lost
    reuse entirely this way) and the corpus is re-scanned per branch.
    Identity: mean -log2(c_ab / c_a) =
    (1/m) * sum tf * (log2 c_a - log2 c_ab).

    Output: (doc_id, n_bigrams, bigram_nll) -- nll rounded to 6;
    docs with < 2 tokens have no bigrams and drop out (left-join and
    coalesce if they must survive)."""
    toks = F.expr(
        f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')")
    pairs = F.expr(
        "transform(sequence(1, size(__toks) - 1),"
        " i -> struct(__toks[i-1] AS a, __toks[i] AS b))")
    bg = (df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
            .filter(F.size("__toks") >= 2)  # sequence(1,0) counts DOWN
            .select("doc_id", F.explode(pairs).alias("__p"))
            .select("doc_id", "__p.a", "__p.b")
            # semantically a no-op (tokens are never null); keeps the
            # branch subtrees identical for exchange reuse, see above
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull()))
    btf = bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("tf"))
    cab = btf.groupBy("a", "b").agg(F.sum("tf").alias("c_ab"))
    ca = cab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    return (btf.join(cab, ["a", "b"]).join(ca, "a")
               .groupBy("doc_id")
               .agg(F.sum("tf").alias("n_bigrams"),
                    F.round(F.sum(F.col("tf")
                                  * (F.log2("c_a") - F.log2("c_ab")))
                            / F.sum("tf"), 6).alias("bigram_nll")))


def drop_repeated_lines(lines: DataFrame, min_docs: int = 2,
                        doc_col: str = "doc_id",
                        idx_col: str = "chunk_idx",
                        line_col: str = "chunk_text",
                        sep: str = " ") -> DataFrame:
    """CCNet-style line/paragraph-level dedup: drop every line whose
    exact content appears in >= ``min_docs`` DISTINCT documents
    (navigation chrome, license headers, cookie banners -- the
    within-corpus boilerplate that whole-doc dedup can't touch), then
    rebuild each document's text from the surviving lines in order.

    Input is a line-grain frame (one row per (doc, idx, line) -- e.g.
    :func:`chunk_documents` output, or an exploded split on newline).
    Plan: per-line doc-distinct collapse then count (two partial-agg
    shuffles on the md5 of the line -- never on the line string), a
    join back on the same hash, and one groupBy-doc rebuild
    (sort_array over collected (idx, line) structs -- in-group data,
    not a global sort).  ~3 shuffles total, all hash-partitioned.

    Output: (doc_id, clean_text, n_kept_lines, n_dropped_lines);
    fully-boilerplate docs survive with clean_text '' so callers can
    distinguish "all dropped" from "absent".  NULL lines (possible
    when the input is an exploded raw split) carry no content and
    count as dropped -- their doc still appears, and
    n_kept + n_dropped always equals the doc's input line count."""
    h = F.md5(F.col(line_col))
    freq = (lines.filter(F.col(line_col).isNotNull())
                 .select(h.alias("__h"), F.col(doc_col).alias("__d"))
                 .distinct()
                 .groupBy("__h")
                 .agg(F.count(F.lit(1)).alias("__docs")))
    keep = (F.col(line_col).isNotNull()
            & (F.coalesce(F.col("__docs"), F.lit(0)) < min_docs))
    joined = lines.withColumn("__h", h).join(freq, "__h", "left")
    kept_struct = F.when(keep, F.struct(F.col(idx_col).alias("i"),
                                        F.col(line_col).alias("l")))
    return (joined.groupBy(F.col(doc_col).alias("doc_id"))
            .agg(F.sort_array(F.collect_list(kept_struct)).alias("__ks"),
                 F.sum(keep.cast("long")).alias("n_kept_lines"),
                 F.sum((~keep).cast("long")).alias("n_dropped_lines"))
            .withColumn("clean_text",
                        F.array_join(F.transform(F.col("__ks"),
                                                 lambda s: s["l"]), sep))
            .select("doc_id", "clean_text", "n_kept_lines",
                    "n_dropped_lines"))


GOPHER_METRIC_COLS = ["n_words", "mean_word_len", "symbol_ratio",
                      "alpha_word_ratio", "stop_hits"]
GOPHER_FLAG_COLS = ["r_words", "r_mean_word_len", "r_symbol", "r_alpha",
                    "r_stop", "gopher_pass"]


def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_word_ratio: float = 0.8,
                 min_stop_hits: int = 2) -> DataFrame:
    """Gopher-style document quality rules as one composite gate (the
    published rule family most curation pipelines start from):
    word-count band, mean-word-length band, symbol-to-word ratio
    (hash marks + ellipses), fraction of words containing an
    alphabetic character, and a minimum count of distinct common
    English stopwords.  Emits one 0/1 flag per rule (INT, not
    BOOLEAN, for engine-stable hashing) plus the conjunction
    ``gopher_pass``, so a curation funnel can report WHICH rule kills
    each document instead of a bare drop.

    Appends ``GOPHER_METRIC_COLS`` + ``GOPHER_FLAG_COLS`` to the
    input frame (every original column survives), so the composite
    works both as a scorer and as an in-pipeline gate
    (``.filter("gopher_pass = 1")`` stays one narrow map stage).
    All signals are narrow JVM expressions over one tokenization --
    no UDF, no shuffle; at 100 TB this is a pure map fused into the
    scan.  Null text yields NULL metrics and gopher_pass=0.
    """
    clash = [c for c in GOPHER_METRIC_COLS + GOPHER_FLAG_COLS
             if c in df.columns]
    if clash:
        raise ValueError(
            f"input already has columns {clash}; rename them first -- "
            f"gopher_rules appends these and will not silently "
            f"overwrite caller data")
    toks = tokens(text_col)
    n_words = F.size(toks).cast("bigint")
    tok_chars = F.aggregate(toks, F.lit(0).cast("long"),
                            lambda a, x: a + F.length(x))
    mean_wl = F.round(tok_chars.cast("double")
                      / F.nullif(n_words, F.lit(0)), 4)
    n_symbols = (F.regexp_count(F.col(text_col), F.lit("#"))
                 + F.regexp_count(F.col(text_col), F.lit("\\.\\.\\."))
                 + F.regexp_count(F.col(text_col), F.lit("…")))
    symbol_ratio = F.round(n_symbols.cast("double")
                           / F.nullif(n_words, F.lit(0)).cast("double"), 6)
    n_alpha_words = F.size(F.filter(
        toks, lambda t: t.rlike("[a-z]"))).cast("bigint")
    alpha_ratio = F.round(n_alpha_words.cast("double")
                          / F.nullif(n_words, F.lit(0)).cast("double"), 6)
    stop_hits = _stop_count(toks, EN_STOP).cast("bigint")

    out = (df.withColumn("n_words", n_words)
             .withColumn("mean_word_len", mean_wl)
             .withColumn("symbol_ratio", symbol_ratio)
             .withColumn("alpha_word_ratio", alpha_ratio)
             .withColumn("stop_hits", stop_hits))
    r_words = ((F.col("n_words") >= min_words)
               & (F.col("n_words") <= max_words)).cast("int")
    r_mwl = ((F.col("mean_word_len") >= min_mean_word_len)
             & (F.col("mean_word_len") <= max_mean_word_len)).cast("int")
    r_symbol = (F.col("symbol_ratio") <= max_symbol_ratio).cast("int")
    r_alpha = (F.col("alpha_word_ratio") >= min_alpha_word_ratio).cast("int")
    r_stop = (F.col("stop_hits") >= min_stop_hits).cast("int")
    return (out.withColumn("r_words", r_words)
               .withColumn("r_mean_word_len", r_mwl)
               .withColumn("r_symbol", r_symbol)
               .withColumn("r_alpha", r_alpha)
               .withColumn("r_stop", r_stop)
               .withColumn("gopher_pass",
                           F.coalesce(
                               (F.col("r_words").cast("boolean")
                                & F.col("r_mean_word_len").cast("boolean")
                                & F.col("r_symbol").cast("boolean")
                                & F.col("r_alpha").cast("boolean")
                                & F.col("r_stop").cast("boolean")),
                               F.lit(False)).cast("int")))
