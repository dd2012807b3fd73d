"""Text retrieval and language-model scoring (beyond-reference
training-data surface).

``bm25_topk`` re-expresses the reference's whole search discipline —
query -> candidate match -> score -> per-query ranked top-k (the
map(kernel) -> collate -> reduce(top-k) spine of mrblast.cpp:1100-1241)
— for word tokens instead of nucleotides: Okapi BM25 over an
inverted-index-shaped plan. ``bigram_lm_score`` is the CCNet/Gopher
perplexity-filter primitive: mean bigram log-likelihood of every
document under the corpus's own MLE bigram model, the standard signal
for flagging gibberish (unusually low) and templated boilerplate
(unusually high) when curating LLM training data.

100 TB shape (both operators):
- One corpus scan feeds a map-side-combinable hash aggregate on the
  token/bigram key; per-key join fan-out is the key's document
  frequency — LINEAR in corpus size, never df^2 (no pair join
  anywhere, so unlike ngram decontamination neither operator needs a
  df cap).
- BM25's term-statistics tables (df per query term, the 2-value
  corpus stats row) are metadata-sized by construction and broadcast;
  the only corpus-sized exchanges are the tf aggregate and the
  per-query top-k rank window (WindowGroupLimit prunes map-side, the
  same plan as topk_per_group).
- The LM count tables scale with DISTINCT bigrams (linear, heavy-tail
  keys are fine: per-key rows = df) and join back on the bigram key.

Cross-engine determinism: every per-term/per-bigram contribution is
quantized to integer MICRO-UNITS — CAST(floor(x * 1e6 + 0.5) AS
BIGINT) — before the distributed sum, so the sum is an exact integer
sum, independent of partitioning, accumulation order, and engine
(float sums are order-sensitive in the last ulp; integer sums are
not). Ranking compares the integer, and the reported score is a
single exact division at the end. All other inputs (tf, df, dl, N,
sum(dl)) are integers, so the only transcendental is ln() on
identical doubles in both engines; floor-form rounding is the
round4_xengine discipline (see operators/similarity.py:29).

One residual assumption, stated rather than guaranteed: ln() is not
correctly rounded in either the JVM or libm, so a 1-ulp divergence on
the same input double is possible and floor(x*1e6 + 0.5) can amplify
it into a +/-1 micro-unit difference (which could flip a top-k
membership exactly at the rank-k boundary). Observed behavior on this
corpus: bitwise-equal Spark/DuckDB scores at sf0.001 through the
synthesized sf1.0; if a future platform's libm breaks this, the fix
is a +/-1-micro tolerance in the comparison, not a code change.

The BM25 scoring expression is rendered ONCE as a SQL template and
parsed by both Spark (F.expr) and DuckDB, so the operator tree —
hence IEEE evaluation order — is identical by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mr_mpi_blast_spark.functions.hashing import normalized_text
from mr_mpi_blast_spark.operators.topk import topk_per_key

BM25_K1 = 1.2
BM25_B = 0.75

# Per-doc bigram list over a tokenized column `ws`, shared renderings
# (one definition — five call sites across the LM/DSIR operators and
# their DuckDB oracles must tokenize identically or parity breaks).
# Spark: the CASE guards the sequence(1, 0) pitfall (a DESCENDING
# [1, 0] instead of an empty array for docs under 2 tokens).
# DuckDB: range(1, n) is already empty for n <= 1.
BIGRAMS_CASE_SQL = (
    "CASE WHEN size(ws) >= 2 THEN "
    "transform(sequence(1, size(ws) - 1), "
    "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) "
    "ELSE array() END")
BIGRAMS_DUCKDB_SQL = ("list_transform(range(1, len(ws)), "
                      "i -> ws[i] || ' ' || ws[i + 1])")

# fixed literal query set for the registered query/oracle pair; terms
# chosen to span the synthetic corpus's df range (`dup` is rare —
# df ~5% — so idf actually differentiates; the rest are common)
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("dup", "hash"),
    1: ("spark", "window", "stream"),
    2: ("vector", "customer"),
}

# shared Spark/DuckDB rendering of one term's BM25 contribution in
# micro-units. Placeholders are column references; every numeric
# constant is wrapped in CAST(... AS DOUBLE) because Spark SQL parses
# bare literals like `2.2` as DECIMAL and would run the whole chain
# in rounded decimal arithmetic (measured: 0.9828345... truncated to
# 0.982835), while DuckDB promotes to double — CAST is the portable
# way to force identical IEEE-double evaluation in both engines
# (Spark's `2.2D` suffix is not DuckDB syntax). Scientific notation
# (1e6) already parses as double in both.
_BM25_MICRO_TMPL = (
    "CAST(floor(ln((({N}) - ({df}) + {h}) / (({df}) + {h}) + 1) * "
    "(({tf}) * {k1p1} / (({tf}) + {k1} * ({omb} + {b} * ({dl}) / "
    "(({sumdl}) * {one} / ({N}))))) * 1e6 + {h}) AS BIGINT)"
)


def _dlit(x: float) -> str:
    """repr() is the shortest decimal that round-trips to the exact
    double, and both engines parse decimal text to the nearest
    double — so CAST(repr(x) AS DOUBLE) yields bit-identical
    constants everywhere."""
    return f"CAST({x!r} AS DOUBLE)"


def bm25_micro_sql(*, n_docs: str, df: str, tf: str, dl: str,
                   sum_dl: str, k1: float = BM25_K1,
                   b: float = BM25_B) -> str:
    """Render the micro-unit contribution for the given column refs."""
    return _BM25_MICRO_TMPL.format(
        N=n_docs, df=df, tf=tf, dl=dl, sumdl=sum_dl,
        k1=_dlit(k1), k1p1=_dlit(k1 + 1.0), b=_dlit(b),
        omb=_dlit(1.0 - b), h=_dlit(0.5), one=_dlit(1.0))


# one bigram's log-likelihood in micro-units — shared verbatim by the
# Spark plan (F.expr) and the DuckDB oracle; same CAST-to-DOUBLE
# rationale as _BM25_MICRO_TMPL
LM_MICRO_SQL = (
    "CAST(floor(ln(c_b * CAST(1.0 AS DOUBLE) / c_w) * 1e6 "
    "+ CAST(0.5 AS DOUBLE)) AS BIGINT)")


def bm25_topk(docs: DataFrame, queries: dict[int, tuple[str, ...]],
              k: int = 10, *, k1: float = BM25_K1, b: float = BM25_B,
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 top-k document retrieval for a set of term queries.

    Lucene's BM25 variant: idf = ln((N - df + 0.5)/(df + 0.5) + 1)
    (always positive), tf-norm = tf*(k1+1)/(tf + k1*(1-b + b*dl/avgdl)).
    A document scores iff it contains >= 1 query term (inverted-index
    semantics — the map-side `term IN (...)` filter makes the tf
    aggregate's input proportional to the posting lists, not the
    corpus).

    Returns (query_id, doc_id, rank, score): top-k per query under
    (micro-unit score DESC, doc_id ASC) — a total order on integers,
    deterministic across engines.
    """
    spark = docs.sparkSession
    toks = F.split(normalized_text(F.col(text_col)), " ")
    all_terms = sorted({t for ts in queries.values() for t in ts})

    # spread once: both passes below (dl sizing and the tf explode)
    # tokenize the full corpus, and a single-row-group parquet scans
    # as ONE task (guide §2.5; traced 1.1 s single-task at sf0.1)
    from mr_mpi_blast_spark.session import spread_for_compute
    docs = spread_for_compute(docs, id_col)

    dls = docs.select(F.col(id_col).alias("doc_id"),
                      F.size(toks).alias("dl"))
    # exact-integer corpus stats: sum(dl) is an integer sum, so avgdl
    # = sum_dl/n_docs is the same double on every engine/partitioning
    stats = dls.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("sum_dl"))

    tf = (docs.select(F.col(id_col).alias("doc_id"),
                      F.size(toks).alias("dl"),
                      F.explode(toks).alias("term"))
          .filter(F.col("term").isin(all_terms))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")))

    # df per query term: aggregates the (already tiny) posting heads
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qrows = [(int(qid), t) for qid, ts in sorted(queries.items())
             for t in sorted(set(ts))]
    qdf = spark.createDataFrame(qrows, "query_id BIGINT, term STRING")

    micro = bm25_micro_sql(n_docs="n_docs", df="df", tf="tf", dl="dl",
                           sum_dl="sum_dl", k1=k1, b=b)
    contrib = (tf.join(F.broadcast(dft), "term")
               .join(F.broadcast(qdf), "term")
               .crossJoin(F.broadcast(stats))
               .select("query_id", "doc_id",
                       F.expr(micro).alias("c")))
    scores = (contrib.groupBy("query_id", "doc_id")
              .agg(F.sum("c").alias("micro")))
    ranked = topk_per_key(scores, ["query_id"],
                          [F.col("micro").desc(), F.col("doc_id").asc()],
                          k)
    return ranked.select(
        "query_id", "doc_id", "rank",
        (F.col("micro") / F.lit(1e6)).alias("score"))


def lm_tf_table(docs: DataFrame, *, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """The stageable corpus table for ``bigram_lm_score``: per-(doc,
    bigram) occurrence counts (doc_id, bigram, w1, tf) — the ONE
    corpus-sized aggregate of the operator. A deployment scoring the
    same corpus repeatedly writes this to parquet once (the catalog's
    artifact store, entry_queries._staged) and passes the
    re-read frame as ``tf_table=``; the model count tables then
    derive from the staged table (cheap columnar re-scans, no
    lambda-bearing subtree, map-side combined) instead of re-exploding
    the corpus per call."""
    toks = normalized_text(F.col(text_col))
    # spread before the bigram explode (single-row-group scan = one
    # task, guide §2.5)
    from mr_mpi_blast_spark.session import spread_for_compute
    bg = (spread_for_compute(docs, id_col)
          .select(F.col(id_col).alias("doc_id"),
                  F.split(toks, " ").alias("ws"))
          .select("doc_id", F.explode(F.expr(BIGRAMS_CASE_SQL)).alias("bigram"))
          .withColumn("w1", F.split(F.col("bigram"), " ").getItem(0)))
    return bg.groupBy("doc_id", "bigram", "w1").agg(
        F.count(F.lit(1)).alias("tf"))


def lm_micro_scores(docs: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id",
                    tf_table: DataFrame | None = None) -> DataFrame:
    """The exact-integer internals of ``bigram_lm_score``: one row per
    document WITH >= 1 bigram — (doc_id, micro, nbg), where micro is
    the summed micro-unit bigram log-likelihood (an exact BIGINT, the
    partitioning/engine-independent quantity) and nbg the bigram
    occurrence count. ``bigram_lm_score`` is its reported projection;
    rank-consuming operators (the CCNet perplexity bucketing) order on
    these integers directly instead of the derived double."""
    if tf_table is not None:
        tf = tf_table
        # from a staged table these are cheap columnar re-scans with
        # map-side combine — the lambda-reuse hazard below is gone
        cb = tf.groupBy("bigram").agg(F.sum("tf").alias("c_b"))
        cw = tf.groupBy("w1").agg(F.sum("tf").alias("c_w"))
    else:
        toks = normalized_text(F.col(text_col))
        # guard the empty case explicitly: Spark's sequence(1, 0)
        # yields a DESCENDING [1, 0] rather than an empty array
        bigrams = F.expr(BIGRAMS_CASE_SQL)
        bg = (docs.select(F.col(id_col).alias("doc_id"),
                          F.split(toks, " ").alias("ws"))
              .select("doc_id", F.explode(bigrams).alias("bigram"))
              .withColumn("w1", F.split(F.col("bigram"), " ").getItem(0)))

        # Each count table re-scans the gram stream rather than
        # deriving from the tf aggregate. Deliberate: lambda-bearing
        # subtrees (the bigram transform) defeat Spark's
        # exchange-reuse canonicalization, so a tf-derived cb/cw would
        # re-shuffle the corpus-sized (doc, bigram) stream once PER
        # CONSUMER (measured: 0 ReusedExchange, 3 corpus exchanges);
        # re-scanning keeps cb/cw map-side-combined — their exchanges
        # carry only distinct grams per partition — and the one
        # corpus-sized exchange is tf's. A deployment scoring the same
        # corpus repeatedly should stage ``lm_tf_table`` to parquet
        # once and pass it as ``tf_table=``.
        tf = bg.groupBy("doc_id", "bigram", "w1").agg(
            F.count(F.lit(1)).alias("tf"))
        cb = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_b"))
        cw = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w"))

    # per-(doc, bigram) contribution: tf * micro(ln p) — integer
    # multiply of an already-quantized value, so the doc-level sum is
    # exact; |sum| <= tokens_per_doc * ~2e7 << 2^53
    contrib = (tf.join(cb, "bigram").join(cw, "w1")
               .select("doc_id", "tf",
                       (F.col("tf") * F.expr(LM_MICRO_SQL)).alias("c")))
    return contrib.groupBy("doc_id").agg(F.sum("c").alias("micro"),
                                         F.sum("tf").alias("nbg"))


def bigram_lm_score(docs: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id",
                    tf_table: DataFrame | None = None) -> DataFrame:
    """Mean bigram log-likelihood under the corpus's own MLE model.

    p(w2|w1) = c(w1 w2) / c(w1 *), counted over the whole corpus with
    c(w1 *) = occurrences of bigrams starting with w1 (a proper
    conditional over observed bigrams; every scored bigram has c >= 1
    so no smoothing is needed for self-scoring). Per-document score =
    sum over bigram OCCURRENCES of ln p / n_bigrams — the
    log-perplexity filter of CCNet (Wenzek et al. 2020) with the
    corpus itself as the reference model.

    Returns one row per document: (doc_id, n_bigrams, avg_logp);
    avg_logp is NULL for docs with < 2 tokens.

    ``tf_table``: a (re-read, typically parquet-staged) frame from
    ``lm_tf_table`` for the SAME docs — the repeated-scoring path;
    the model count tables then derive from it by summation instead
    of re-exploding the corpus.
    """
    s = lm_micro_scores(docs, text_col=text_col, id_col=id_col,
                        tf_table=tf_table)
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(s, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("nbg"), F.lit(0)).alias("n_bigrams"),
                F.when(F.col("nbg") > 0,
                       (F.col("micro") * F.lit(1.0) / F.col("nbg"))
                       / F.lit(1e6)).alias("avg_logp")))


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169) — hashed-n-gram importance weights
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096

# Cross-engine-portable hash bucket: the first 8 hex chars of md5
# parsed as an integer, mod B. Production DSIR uses a cheaper hash
# (xxhash-class); md5 is chosen HERE because both Spark and DuckDB
# compute the identical standard function on the identical string, so
# the oracle can replay the bucketing exactly — unlike xxhash64, which
# only Spark has (the decontam operator's engine/oracle asymmetry).
# At B=4096 hash quality is irrelevant; 8 hex chars < 2^32 keeps the
# parse non-negative, so % and pmod agree. The two renderings below
# compute the same function; tests/test_search.py pins their equality
# on fixture strings.
def dsir_bucket_spark(col: str, n_buckets: int = DSIR_BUCKETS) -> str:
    return (f"pmod(CAST(conv(substring(md5({col}), 1, 8), 16, 10) "
            f"AS BIGINT), {n_buckets})")


def dsir_bucket_duckdb(col: str, n_buckets: int = DSIR_BUCKETS) -> str:
    return (f"(CAST(('0x' || substring(md5({col}), 1, 8)) AS BIGINT) "
            f"% {n_buckets})")


# one bucket's smoothed log importance ratio in micro-units, shared
# verbatim by both engines (placeholders are column refs / literals):
#   lr(b) = ln( (ct+1)/(Nt+B) / ((cs+1)/(Ns+B)) )
#         = ln( (ct+1)*(Ns+B) / ((cs+1)*(Nt+B)) )
# Each factor is promoted to DOUBLE BEFORE the multiply: an int64
# product (ct+1)*(Ns+B) overflows at web scale (Ns ~ 1e13 bigrams x
# ct ~ 1e9 > 2^63) — Spark would wrap silently (ANSI off) while DuckDB
# raises, diverging engine from oracle. Double multiplication is
# correctly rounded and identical in both engines (each int64 factor
# converts exactly below 2^53, and above it both engines perform the
# same nearest-double conversion), so determinism is preserved at
# every scale; the single ln() then runs on an identical double — the
# BM25/LM micro-unit discipline.
DSIR_MICRO_TMPL = (
    "CAST(floor(ln(((({ct}) + 1) * CAST(1.0 AS DOUBLE) * (({ns}) + {b})) / "
    "((({cs}) + 1) * CAST(1.0 AS DOUBLE) * (({nt}) + {b}))) * 1e6 "
    "+ CAST(0.5 AS DOUBLE)) AS BIGINT)")


def dsir_tf_table(docs: DataFrame, target_pred,
                  n_buckets: int = DSIR_BUCKETS, *,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """The stageable corpus table for ``dsir_log_weights``: per-(doc,
    bucket) occurrence counts (doc_id, tgt, b, tf) — the one
    corpus-sized aggregate. Stage to parquet once per corpus and pass
    the re-read frame as ``tf_table=``; bucket stats and totals then
    derive from it by summation (see ``lm_tf_table``)."""
    bg = (docs.select(F.col(id_col).alias("doc_id"),
                      F.when(target_pred, 1).otherwise(0).alias("tgt"),
                      F.split(normalized_text(F.col(text_col)), " ")
                      .alias("ws"))
          .select("doc_id", "tgt",
                  F.explode(F.expr(BIGRAMS_CASE_SQL)).alias("bigram"))
          .withColumn("b", F.expr(dsir_bucket_spark("bigram", n_buckets)))
          .drop("bigram"))
    return bg.groupBy("doc_id", "tgt", "b").agg(
        F.count(F.lit(1)).alias("tf"))


def dsir_micro_weights(docs: DataFrame, target_pred,
                       n_buckets: int = DSIR_BUCKETS, *,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       tf_table: DataFrame | None = None) -> DataFrame:
    """The exact-integer internals of ``dsir_log_weights``: one row
    per document WITH >= 1 feature — (doc_id, micro, nf), micro the
    summed micro-unit log ratio (exact BIGINT). ``dsir_log_weights``
    is its reported projection; ``dsir_sample`` normalizes and
    thresholds on the integers directly (differences of micro are
    exact where differences of the derived doubles are not)."""
    if n_buckets < 1:
        raise ValueError(f"dsir_micro_weights: n_buckets must be >= 1, "
                         f"got {n_buckets}")
    if tf_table is not None:
        # staged-table path (``dsir_tf_table``): stats derive by
        # summation from cheap columnar re-scans — no corpus explode
        tf = tf_table.select("doc_id", "b", "tf")
        cb = tf_table.groupBy("b").agg(
            F.sum("tf").alias("cs"),
            F.sum(F.col("tf") * F.col("tgt")).alias("ct"))
        tot = tf_table.agg(
            F.sum("tf").alias("ns"),
            F.sum(F.col("tf") * F.col("tgt")).alias("nt"))
    else:
        bg = (docs.select(F.col(id_col).alias("doc_id"),
                          F.when(target_pred, 1).otherwise(0).alias("tgt"),
                          F.split(normalized_text(F.col(text_col)), " ")
                          .alias("ws"))
              .select("doc_id", "tgt",
                      F.explode(F.expr(BIGRAMS_CASE_SQL)).alias("bigram"))
              .withColumn("b",
                          F.expr(dsir_bucket_spark("bigram", n_buckets)))
              .drop("bigram"))

        # cb/tot re-scan the gram stream rather than deriving from tf
        # — same rationale as bigram_lm_score: exchange reuse does not
        # fire across lambda-bearing subtrees, so tf-derived stats
        # would shuffle the corpus-sized (doc, bucket) stream once per
        # consumer, while direct aggregation is map-side-combined down
        # to <= B rows per partition (cb) and 1 row per partition
        # (tot) before exchanging.
        tf = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("tf"))
        cb = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cs"),
                                 F.sum("tgt").alias("ct"))
        tot = bg.agg(F.count(F.lit(1)).alias("ns"),
                     F.sum("tgt").alias("nt"))

    micro = DSIR_MICRO_TMPL.format(ct="ct", cs="cs", nt="nt", ns="ns",
                                   b=n_buckets)
    contrib = (tf.join(F.broadcast(cb), "b")
               .crossJoin(F.broadcast(tot))
               .select("doc_id", "tf",
                       (F.col("tf") * F.expr(micro)).alias("c")))
    return contrib.groupBy("doc_id").agg(F.sum("c").alias("micro"),
                                         F.sum("tf").alias("nf"))


def dsir_log_weights(docs: DataFrame, target_pred,
                     n_buckets: int = DSIR_BUCKETS, *,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     tf_table: DataFrame | None = None) -> DataFrame:
    """DSIR importance weights: per-document log-likelihood ratio of a
    hashed-bigram unigram model of the TARGET subset vs the SOURCE
    (whole corpus), Laplace-smoothed — the Xie et al. 2023 data
    selection signal (resampling = ``dsir_sample`` below, or a
    downstream Gumbel top-k over these weights).

    ``target_pred`` is a Column predicate over ``docs`` rows defining
    the target distribution (e.g. lang == 'en', source == 'wiki').

    100 TB shape: one corpus scan feeds the bigram explode; bucket
    count tables are B-bounded BY CONSTRUCTION (not by data), so the
    per-bucket log-ratio table broadcasts; the per-doc aggregate is
    map-side-combinable. No pair join, no df^2 term anywhere — the
    whole reason DSIR hashes features instead of keeping raw n-grams.

    Determinism: per-bucket log-ratios are quantized to integer
    micro-units before the per-doc sum (exact integer arithmetic,
    engine- and partitioning-independent); counts and totals are
    exact integers; the only transcendental is one ln() on an
    identical double in both engines.

    Output: (doc_id, n_features, log_weight) — log_weight is the
    summed log ratio / 1e6, NULL for docs with no bigrams.
    """
    s = dsir_micro_weights(docs, target_pred, n_buckets,
                           text_col=text_col, id_col=id_col,
                           tf_table=tf_table)
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(s, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("nf"), F.lit(0)).alias("n_features"),
                F.when(F.col("nf") > 0,
                       F.col("micro") / F.lit(1e6)).alias("log_weight")))


def dsir_sample(docs: DataFrame, target_pred, base_rate: float,
                n_buckets: int = DSIR_BUCKETS, *,
                text_col: str = "text", id_col: str = "doc_id",
                tf_table: DataFrame | None = None) -> DataFrame:
    """The APPLY step to ``dsir_log_weights`` (Xie et al. 2023 §2.3):
    materialize the importance-resampled corpus by deterministic
    per-document hash acceptance at the SELF-NORMALIZED rate

        p(doc) = min(1, base_rate * w_doc / w_max),
        w_doc / w_max = exp((micro_doc - micro_max) / 1e6)

    — documents whose hashed-bigram likelihood ratio favors the target
    keep proportionally more probability mass, with the id hash
    playing the uniform draw (the ``mix_sample`` discipline:
    membership is a pure function of (corpus, id) — same sample on
    any cluster layout, on every rerun). Importance resampling is
    invariant to the weights' normalizing constant, so anchoring at
    the corpus max is sound — and necessary: raw exp(log_weight)
    saturates (subset-vs-corpus log ratios are systematically
    negative under smoothing; measured: 1 of 500 docs kept raw vs 24
    normalized at base_rate 1). The anchor is max(micro) — an exact
    integer max, and the exponent is an exact integer DIFFERENCE
    divided once by 1e6 (micro1/1e6 - micro2/1e6 can differ from
    (micro1-micro2)/1e6 in the last ulp; the difference form is the
    one both engines compute identically). ``base_rate`` scales the
    whole sample (the top-weighted doc keeps at base_rate); samples
    at growing base_rate NEST (the id bucket is fixed).

    Rows with no features are EXCLUDED — the stated policy
    (mix_weights' NULL-domain twin): a doc the model cannot score has
    no importance weight; length-gate upstream if such docs must stay.

    100 TB shape: the weights' linear shapes (B-bounded broadcast
    stats, per-doc map-side-combined sum) + a one-row broadcast max +
    ONE doc-keyed join of the kept-weight frame back to the corpus.
    No pair join, no global sort; output is the kept subset.

    Determinism residual: exp() shares ln()'s 1-ulp non-correctly-
    rounded status (module docstring), so acceptance could flip ONLY
    if rate * 10000 lands within 1 ulp of the row's integer bucket —
    the same stated residual, observed value-equal on this corpus;
    the sanctioned fix on a diverging platform is a +/-1-bucket
    comparison tolerance, not a code change.

    Returns the kept ``docs`` rows + (n_features, log_weight).
    """
    from mr_mpi_blast_spark.operators.sampling import _BUCKETS, id_bucket
    if not 0.0 <= base_rate <= 1.0:
        raise ValueError(f"dsir_sample: base_rate must be in [0, 1], "
                         f"got {base_rate}")
    s = dsir_micro_weights(docs, target_pred, n_buckets,
                           text_col=text_col, id_col=id_col,
                           tf_table=tf_table)
    mx = s.agg(F.max("micro").alias("mx"))
    rate = F.least(
        F.lit(1.0),
        F.lit(float(base_rate))
        * F.exp((F.col("micro") - F.col("mx")) / F.lit(1e6)))
    keep = (s.crossJoin(F.broadcast(mx))
            .filter(id_bucket(F.col("doc_id")) < rate * _BUCKETS)
            .select(F.col("doc_id").alias(id_col),
                    F.col("nf").alias("n_features"),
                    (F.col("micro") / F.lit(1e6)).alias("log_weight")))
    return docs.join(keep, id_col)


def inverted_index(docs: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id", top_docs: int = 3) -> DataFrame:
    """Materialized inverted index: per term, document frequency,
    total term frequency, and the top-``top_docs`` posting entries
    (by tf desc, doc id asc) — the build step behind bm25_topk's
    retrieval (which derives its posting stats per query; a corpus
    scored repeatedly stages THIS table once instead).

    Shape: one corpus explode -> (term, doc) hash aggregate (map-side
    combined), then two term-keyed aggregates — stats over all
    postings, and the top slice through a per-term window that
    Catalyst plans as WindowGroupLimit, so a stopword's million-row
    posting list is cut map-side, never collected. The top slice is
    emitted as a comma-joined id string (engine-neutral rendering).

    Output: (term, df, tf_total, top_docs).
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    # spread before the corpus explode (single-row-group scan = one
    # task, guide §2.5)
    from mr_mpi_blast_spark.session import spread_for_compute
    tf = (spread_for_compute(docs, id_col)
          .select(F.col(id_col).alias("doc_id"),
                  F.explode(toks).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("term", "doc_id")
          .agg(F.count(F.lit(1)).alias("tf")))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"))
    from pyspark.sql import Window
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(),
                                           F.col("doc_id").asc())
    top = (tf.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= top_docs)
           .groupBy("term")
           .agg(F.array_join(
               F.transform(
                   F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                   lambda s: s["doc_id"].cast("string")),
               ",").alias("top_docs")))
    return stats.join(top, "term")
