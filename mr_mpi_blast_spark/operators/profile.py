"""Table profiling (beyond-reference training-data surface).

The statistics pass every large-scale ingest runs before anything
else: per column — row count, NULL count, exact distinct count, min
and max. At 100 TB this is the report that decides partition keys,
dedup keys, and skew treatment; it is also the cheap invariant check
between pipeline stages (a profile diff catches a silently dropped
column or an exploded join long before a value-level audit would).

100 TB shape: ONE corpus scan. All non-distinct statistics are
map-side-combinable aggregates; the exact distinct counts make Spark
plan an Expand (one duplicated stream per distinct column) feeding a
two-level hash aggregate — the standard exact multi-distinct shape,
linear in columns x rows with partial aggregation before the
exchange. When estimates suffice (the usual case at 100 TB), pass
``exact=False`` to swap in approx_count_distinct (HyperLogLog++,
fixed-size sketches that merge map-side — no Expand at all); the
exact form is the one the DuckDB oracle can replay, so it is the
registered/verified variant.

min/max are computed on the NATIVE type (so numeric ordering, not
lexicographic) and only then rendered to strings for the uniform
report schema. The registered demo restricts itself to columns whose
string rendering is engine-exact (integers, strings, dates);
doubles/timestamps profile fine but their text forms are
engine-specific — keep them numeric in a homogeneous report or
quantize first (the micro-unit discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def table_profile(df: DataFrame, cols: list[str] | None = None,
                  exact: bool = True,
                  quantile_cols: list[str] | None = None,
                  qs_permille: tuple = (500, 900, 990)) -> DataFrame:
    """One row per profiled column: (col_name, n_rows, n_nulls,
    n_distinct, min_val, max_val) — min/max rendered as strings,
    NULL-only columns render NULL. Columns report in sorted name
    order. ``exact=False`` switches n_distinct to HyperLogLog++
    estimates (the 100 TB default; not oracle-replayable).

    ``quantile_cols`` (r12) adds HDR-sketch quantile columns
    (``p<q>_est``, one per qs_permille entry; NULL for unlisted
    columns) for NON-NEGATIVE INTEGER columns — the mergeable
    bounded-state quantile summary a 100 TB profile pass reports
    where an exact per-column sort is off the table (the
    HLL-vs-exact-distinct pattern applied to percentiles; estimates
    under-report by at most ~1.6% at SUB_BITS=7, see the HDR section
    below). Deterministic integer arithmetic, so the DuckDB oracle
    replays the estimates bit-exactly. NULLs are excluded (they have
    no rank position — the n_nulls column already reports them);
    negative values fail loudly. Cost: ONE additional column-pruned
    scan covering every quantile column at once (the per-(col,
    bucket) aggregate combines map-side and is a few KB per column);
    quantile extraction then runs over the sketch, not the data."""
    cols = sorted(cols if cols is not None else df.columns)
    if not cols:
        raise ValueError("table_profile: no columns to profile")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"table_profile: unknown columns {missing}")
    # spread before the multi-distinct Expand (and the sketch pass):
    # a single-row-group parquet scans as ONE task, so the x(cols+1)
    # expanded partial aggregate otherwise runs 1-wide (traced 2.3 s
    # single-task at sf0.1, guide §2.5); round-robin is safe — every
    # downstream consumer is an order-insensitive aggregate
    from mr_mpi_blast_spark.session import spread_for_compute
    df = spread_for_compute(df)
    bad = [c for c in (quantile_cols or []) if c not in cols]
    if bad:
        raise ValueError(
            f"table_profile: quantile_cols {bad} not in profiled cols")
    if exact:
        return _table_profile_exact(df, cols, quantile_cols,
                                    list(qs_permille))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nn{i}"),
            F.approx_count_distinct(F.col(c)).alias(f"_nd{i}"),
            F.min(c).cast("string").alias(f"_mn{i}"),
            F.max(c).cast("string").alias(f"_mx{i}"),
        ]
    row = df.agg(*aggs)
    # reshape the single stats row to long form with stack() — a
    # plan-sized pivot, no second pass over the data
    parts = ", ".join(
        f"'{c}', _nn{i}, _nd{i}, _mn{i}, _mx{i}" for i, c in enumerate(cols))
    base = row.select(
        "n_rows",
        F.expr(f"stack({len(cols)}, {parts}) AS "
               "(col_name, n_nulls, n_distinct, min_val, max_val)"),
    ).select("col_name", "n_rows", "n_nulls", "n_distinct",
             "min_val", "max_val")
    if not quantile_cols:
        return base
    # orderBy restores the documented sorted report order the join's
    # shuffle would otherwise scramble — plan-sized (one row/column)
    return base.join(
        _hdr_profile_quantiles(df, quantile_cols, list(qs_permille)),
        "col_name", "left").orderBy("col_name")


def _table_profile_exact(df, cols: list[str],
                         quantile_cols: list[str] | None,
                         qs_permille: list[int]):
    """The exact-distinct profile as a MANUAL two-level aggregate
    (r13, guide §2.2/§2.3 and VERDICT item 5).

    Why not ``df.agg(count_distinct(c0), ..., min(c0), ...)``: mixing
    exact distinct aggregates with non-distinct ones makes Catalyst
    rewrite the query through an Expand whose regrouping levels carry
    ``first(...)`` functions — and those plan as SortAggregate, so
    the WHOLE (cols+1)x-expanded corpus stream went through THREE
    Sort operators (traced at sf0.1: the three 32-task sort stages
    were ~2.1 s of the 2.2 s query; plan pair
    plans/r13/table_profile_before.txt operators (4)-(11)).

    The manual form keys one explode-stream per column by its NATIVE
    type (a struct field per column — exactly the columns Expand
    would key on), so:

    - level 1 (corpus-sized): groupBy(gid, v0..vN) count — plain
      HashAggregate, map-side partial dedup before the one exchange
      (shuffle volume = per-partition distinct values, identical to
      the Expand plan's);
    - level 2 (distinct-values-sized): per gid — n_rows = sum(cnt),
      n_nulls = cnt of the all-null group, n_distinct = count of
      non-null-value groups (exact by partition-of-the-value-space,
      the hll_distinct lvl1 argument), min/max over the native-typed
      field (strings put this level on the sort-based fallback, but
      it runs over the DEDUPED stream, not the corpus);
    - the HDR quantile sketch is built from the SAME level-1 stream
      (bucket counts = sum of value multiplicities — exact), so the
      former second corpus scan (+ its spread exchange) is GONE:
      ONE scan total for the whole profile.

    Values are identical to the Expand form by construction: same
    distinct sets, same native-type min/max ordering, same NULL
    accounting, same HDR bucket counts.
    """
    n = len(cols)
    types = {c: f.dataType for c, f in zip(df.schema.names, df.schema.fields)}
    structs = [
        F.struct(F.lit(i).alias("gid"),
                 *[(F.col(c) if j == i
                    else F.lit(None).cast(types[c])).alias(f"v{j}")
                   for j, c in enumerate(cols)])
        for i, c in enumerate(cols)]
    vcols = [f"v{j}" for j in range(n)]
    lvl1 = (df.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.*")
            .groupBy("gid", *vcols)
            .agg(F.count(F.lit(1)).alias("cnt")))
    # only the row's own-gid field can be non-null, so "any field
    # non-null" == "this gid's value is non-null" for every row
    import functools
    anynn = functools.reduce(
        lambda x, y: x | y, [F.col(v).isNotNull() for v in vcols])
    # one all-NULL cnt=0 row per gid: every column reports (all counts
    # 0, min/max NULL) even on empty input, and the counts are unmoved
    col_rows = df.sparkSession.range(n).select(
        F.col("id").cast("int").alias("gid"),
        *[F.lit(None).cast(types[c]).alias(v) for c, v in zip(cols, vcols)],
        F.lit(0).cast("long").alias("cnt"))
    prof = lvl1.unionByName(col_rows).groupBy("gid").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(F.sum(F.when(~anynn, F.col("cnt"))),
                   F.lit(0)).alias("n_nulls"),
        F.sum(F.when(anynn, 1).otherwise(0)).cast("long")
        .alias("n_distinct"),
        *[F.min(v).alias(f"_mn{j}") for j, v in enumerate(vcols)],
        *[F.max(v).alias(f"_mx{j}") for j, v in enumerate(vcols)],
    )
    names = F.array(*[F.lit(c) for c in cols])
    base = prof.select(
        F.element_at(names, F.col("gid") + 1).alias("col_name"),
        "n_rows", "n_nulls", "n_distinct",
        # for gid=i every foreign-column min/max is NULL (its field
        # was all-NULL in the group), so coalesce picks column i's —
        # NULL-only columns stay NULL, exactly the stack() rendering
        F.coalesce(*[F.col(f"_mn{j}").cast("string") for j in range(n)])
        .alias("min_val"),
        F.coalesce(*[F.col(f"_mx{j}").cast("string") for j in range(n)])
        .alias("max_val"))
    if not quantile_cols:
        return base.orderBy("col_name")
    qarms = " ".join(
        f"WHEN gid = {cols.index(c)} "
        f"THEN {_hdr_profile_bucket(f'v{cols.index(c)}')}"
        for c in quantile_cols)
    sk = (lvl1.select(
            F.element_at(names, F.col("gid") + 1).alias("col_name"),
            F.expr(f"CASE {qarms} ELSE NULL END").alias("bucket"),
            "cnt")
          .filter(F.col("bucket").isNotNull())
          .groupBy("col_name", "bucket")
          .agg(F.sum("cnt").alias("cnt")))
    return base.join(_hdr_extract_quantiles(sk, qs_permille),
                     "col_name", "left").orderBy("col_name")


def trimmed_mean_by_group(df, group_col: str, cents_col: str,
                          trim_denom: int = 10):
    """Exact trimmed mean per group over integer cents — the robust
    location statistic (drop the floor(n/denom) smallest and largest
    observations, average the rest) computed WITHOUT per-row ranking.

    The scale trick: rank-based trimming needs a per-group total
    order (a corpus-sized single-task window for a hot group); this
    computes the identical result from the VALUE HISTOGRAM —
    (group, cents) counts from one map-side-combined aggregate, then
    a per-group cumulative window whose state is bounded by the
    VALUE DOMAIN's cardinality, not the corpus (ties all carry the
    same value, so trimming k by rank equals trimming k by histogram
    multiplicity). Each histogram row contributes
    clamp-overlap(k, cumulative range) x value to the trimmed-away
    sums — all exact int64 arithmetic, partitioning-independent.

    Output: (group, n, k_trim, trimmed_sum, kept) — callers derive
    the mean; it is exact rational trimmed_sum/kept. kept CAN be 0
    (only at trim_denom == 2 with even n, where the trim consumes
    everything): the statistic is undefined there and callers must
    null-guard the division — emitted as data, not raised, because
    it is a per-group condition, not a parameter error.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    if trim_denom < 2:
        raise ValueError(f"trim_denom must be >= 2, got {trim_denom}")
    # NULL observations are EXCLUDED (the house NULL-domain policy,
    # as mix_weights): a NULL has no rank position, and letting it
    # into the histogram would inflate n/k while its NULL products
    # silently vanish from the trim sums — wrong in both directions
    h = (df.filter(F.col(cents_col).isNotNull())
         .groupBy(group_col, cents_col)
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.sum(cents_col).alias("vsum")))
    w = (Window.partitionBy(group_col).orderBy(cents_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy(group_col)
    h = (h.withColumn("cum", F.sum("cnt").over(w))
         .withColumn("n", F.sum("cnt").over(tot))
         .withColumn("total", F.sum("vsum").over(tot)))
    k = F.expr(f"n div {trim_denom}")
    lo_take = F.greatest(F.lit(0), F.least(
        F.col("cnt"), k - (F.col("cum") - F.col("cnt"))))
    hi_take = F.greatest(F.lit(0), F.least(
        F.col("cnt"), k - (F.col("n") - F.col("cum"))))
    return (h.groupBy(group_col)
            .agg(F.first("n").alias("n"),
                 F.first(k).alias("k_trim"),
                 (F.first("total")
                  - F.sum(lo_take * F.col(cents_col))
                  - F.sum(hi_take * F.col(cents_col)))
                 .cast("long").alias("trimmed_sum"),
                 (F.first("n") - 2 * F.first(k)).cast("long")
                 .alias("kept")))


CMS_DEPTH, CMS_WIDTH = 4, 256


def cms_hash_spark(col: str, row: int, width: int = CMS_WIDTH) -> str:
    """Row-``row``'s CMS bucket for a string column — DELEGATES to
    the house md5-prefix bucket (operators/search.py dsir_bucket_*,
    whose cross-engine %/pmod agreement is test-pinned) with the row
    index as salt, so the d hash functions are independent and there
    is exactly ONE rendering of the hash contract in the repo."""
    from mr_mpi_blast_spark.operators.search import dsir_bucket_spark
    return dsir_bucket_spark(f"concat('{row}:', {col})", width)


def cms_hash_duckdb(col: str, row: int, width: int = CMS_WIDTH) -> str:
    from mr_mpi_blast_spark.operators.search import dsir_bucket_duckdb
    return dsir_bucket_duckdb(f"('{row}:' || {col})", width)


def cms_sketch(items, term_col: str = "term", depth: int = CMS_DEPTH,
               width: int = CMS_WIDTH, weight_col: str | None = None):
    """Count-min sketch over a term stream: a (row, bucket, counter)
    table of depth x width cells — the MERGEABLE bounded-state
    frequency summary (Cormode & Muthukrishnan 2005). Build cost is
    one map-side-combined aggregate over the depth-times-exploded
    stream; the sketch is depth*width cells REGARDLESS of corpus
    size, and two corpora's sketches merge by cell-wise addition —
    the property that lets 1000 executors summarize 100 TB into 4 KB
    each and reduce. Estimates are one-sided: est >= true always,
    est <= true + eps*N with prob 1-delta (eps = e/width,
    delta = exp(-depth)).

    ``weight_col`` (r12, guide §2.2 — shuffle fewer bytes): build
    from PRE-AGGREGATED (term, n) rows instead of the raw stream —
    cell counters are additive over equal terms, so
    sum(n) grouped by (r, bucket) == count(*) over the unrolled
    stream, exactly (pinned by test_cms_weighted_parity). The d md5
    hashes then run once per DISTINCT term rather than once per
    occurrence.
    """
    from pyspark.sql import functions as F
    # one scan: each item explodes to its d (r, bucket) cells inline
    # (a union of d projections would re-scan — and re-derive — the
    # term stream d times; Spark does not CSE across union branches)
    cells = F.array(*[
        F.struct(F.lit(r).alias("r"),
                 F.expr(cms_hash_spark(term_col, r)).alias("bucket"))
        for r in range(depth)])
    w = (F.col(weight_col).cast("long") if weight_col is not None
         else F.lit(1).cast("long"))
    return (items.select(F.explode(cells).alias("cell"), w.alias("_w"))
            .groupBy(F.col("cell.r").alias("r"),
                     F.col("cell.bucket").alias("bucket"))
            .agg(F.sum("_w").alias("counter")))


def cms_estimate(sketch, probes, term_col: str = "term",
                 depth: int = CMS_DEPTH):
    """Point-estimate each probe term against the sketch: min over
    the d rows of that row's cell, with an EMPTY cell counting as 0
    (left join + coalesce — an inner join would silently drop a
    never-seen probe, or worse min() over only its non-empty cells
    and over-estimate). Probe-sized joins only; every probe term
    comes back exactly once."""
    from pyspark.sql import functions as F
    cells = F.array(*[
        F.struct(F.lit(r).alias("r"),
                 F.expr(cms_hash_spark(term_col, r)).alias("bucket"))
        for r in range(depth)])
    keyed = probes.select(term_col, F.explode(cells).alias("cell")) \
        .select(term_col, F.col("cell.r").alias("r"),
                F.col("cell.bucket").alias("bucket"))
    return (keyed.join(sketch, ["r", "bucket"], "left")
            .groupBy(term_col)
            .agg(F.min(F.coalesce("counter", F.lit(0).cast("long")))
                 .alias("est_n")))


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (Flajolet et al. 2007) — exact-integer,
# oracle-replayable rendering.
# ---------------------------------------------------------------------------

HLL_P = 8                      # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_RANK_BITS = 20             # rank domain [1, 21]; 20-bit hash tail
HLL_SCALE_BITS = HLL_RANK_BITS + 1   # 2^(SCALE-M) integral for M<=21
#: alpha_m * 1e6 for m=256, fixed at import so both engines consume
#: the SAME integer constant (no libm in the loop)
HLL_ALPHA_MICRO = round(0.7213 / (1 + 1.079 / HLL_M) * 1_000_000)


def _hll_rank_spark(v: str) -> str:
    """1 + leading-zeros of a 20-bit value via binary-string length —
    integer-only (no log2/floats): rank = 21 - bit_length(v), v=0 -> 21."""
    return (f"CASE WHEN {v} = 0 THEN {HLL_RANK_BITS + 1} "
            f"ELSE {HLL_RANK_BITS + 1} - length(conv({v}, 10, 2)) END")


def _hll_rank_duckdb(v: str) -> str:
    return (f"CASE WHEN {v} = 0 THEN {HLL_RANK_BITS + 1} "
            f"ELSE {HLL_RANK_BITS + 1} - length(bin({v})) END")


def hll_distinct(df, col: str):
    """HyperLogLog cardinality estimate beside the exact count — the
    MERGEABLE distinct sketch (Flajolet 2007): every item hashes to a
    (register, rank) pair, registers keep max(rank), two corpora's
    sketches merge by register-wise MAX — 256 small ints summarize any
    corpus, which is how a 1000-executor scan answers "how many
    distinct X" with one 2 KB reduce instead of a corpus-keyed
    shuffle. (Spark's own approx_count_distinct is HLL++; this
    operator exists because ITS arithmetic is deterministic md5 and
    therefore DuckDB-replayable — the verified twin of the black-box
    native sketch, same discipline as cms_sketch vs any native
    frequency sketch.)

    Exactness rendering: raw-estimate arithmetic only (no linear-
    counting branch — its ln() is libm-dependent; callers in the
    small-n regime want the exact count anyway, which rides along).
    sum(2^-M[j]) is carried as the exact integer
    sum_inv_scaled = sum(2^(SCALE_BITS - M[j])) (every term a power
    of two, no rounding anywhere; SCALE_BITS = RANK_BITS + 1 because
    the rank domain is [1, RANK_BITS+1] — a 21-rank register's term
    2^-21 must still scale to an integer, the sf1.0 lesson: at 2^20
    scaling a maxed register made the shift count negative, which
    Java masks to <<63), and

        est = ALPHA_MICRO * m^2 * 2^SCALE_BITS
              div (1e6 * sum_inv_scaled)

    is pure int64 (numerator <= 1e17). Output one row:
    (m, n_registers_hit, sum_inv_scaled, est_distinct,
    exact_distinct). The estimate's relative error is ~1.04/sqrt(m)
    (~6.5% at m=256) once n >> 2.5*m.
    """
    from mr_mpi_blast_spark.operators.search import dsir_bucket_spark
    from mr_mpi_blast_spark.session import spread_for_compute
    bucket = dsir_bucket_spark(f"concat('hll:', {col})", HLL_M)
    v20 = (f"CAST(conv(substring(md5(concat('hll:', {col})), 9, 5), "
           f"16, 10) AS BIGINT)")
    # r12 single-scan shape (guide §2.3/§2.4): the exact verifier used
    # to be a SECOND corpus scan planned as an Expand-based
    # count_distinct. Every value hashes to exactly one register, so
    # registers PARTITION the value space — distinct-per-register
    # counts (one extra level in the same aggregation tree) sum to
    # the global exact distinct: one scan, no Expand, no crossJoin.
    # The spread matters because the md5/conv pipeline is the query's
    # dominant compute and a single-row-group scan is one task.
    lvl1 = (spread_for_compute(df, col)
            .select(F.col(col).alias("x"),
                    F.expr(bucket).alias("b"),
                    F.expr(_hll_rank_spark(v20)).alias("rank"))
            .groupBy("b", "x").agg(F.max("rank").alias("rank")))
    regs = lvl1.groupBy("b").agg(F.max("rank").alias("m_rank"),
                                 F.count("x").alias("nd"))
    zero_term = 1 << HLL_SCALE_BITS
    agg = regs.agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.expr(f"CAST(shiftleft(1L, {HLL_SCALE_BITS} - m_rank) "
                     f"AS BIGINT)")).alias("s_hit"),
        F.coalesce(F.sum("nd"), F.lit(0).cast("long"))
        .alias("exact_distinct"))
    num = HLL_ALPHA_MICRO * HLL_M * HLL_M * (1 << HLL_SCALE_BITS)
    # the denominator is spelled ONCE and both outputs derive from it
    # (a second hand-expanded rendering could silently drift from the
    # emitted sum_inv_scaled under a future scaling change)
    denom = agg.withColumn(
        "sum_inv_scaled",
        (F.col("s_hit") + (F.lit(HLL_M) - F.col("n_hit"))
         * F.lit(zero_term)).cast("long"))
    return denom.select(
        F.lit(HLL_M).cast("long").alias("m"),
        F.col("n_hit").cast("long").alias("n_registers_hit"),
        "sum_inv_scaled",
        F.expr(f"CAST({num} div (1000000 * sum_inv_scaled) AS BIGINT)")
        .alias("est_distinct"),
        F.col("exact_distinct").cast("long"))


def hll_distinct_sql(col_sql: str, from_sql: str) -> str:
    """DuckDB replay of hll_distinct over `col_sql` drawn FROM
    `from_sql` — identical md5 bucket/rank arithmetic, identical
    integer estimate formula."""
    from mr_mpi_blast_spark.operators.search import dsir_bucket_duckdb
    # built over the aliased item column, so col_sql can be any
    # expression without needing textual substitution
    bucket = dsir_bucket_duckdb("('hll:' || x)", HLL_M)
    v20 = "CAST(('0x' || substring(md5('hll:' || x), 9, 5)) AS BIGINT)"
    zero_term = 1 << HLL_SCALE_BITS
    num = HLL_ALPHA_MICRO * HLL_M * HLL_M * (1 << HLL_SCALE_BITS)
    return f"""
WITH items AS (SELECT {col_sql} AS x FROM {from_sql}),
regs AS (SELECT {bucket} AS b,
                max({_hll_rank_duckdb(v20)}) AS m_rank
         FROM items GROUP BY 1),
agg AS (SELECT count(*) AS n_hit,
               sum(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - m_rank)) AS s_hit
        FROM regs),
ex AS (SELECT count(DISTINCT x) AS exact_distinct FROM items)
SELECT CAST({HLL_M} AS BIGINT) AS m,
       CAST(n_hit AS BIGINT) AS n_registers_hit,
       CAST(s_hit + ({HLL_M} - n_hit) * {zero_term} AS BIGINT)
         AS sum_inv_scaled,
       CAST({num} // (1000000 * (s_hit + ({HLL_M} - n_hit)
                                 * {zero_term})) AS BIGINT)
         AS est_distinct,
       CAST(exact_distinct AS BIGINT) AS exact_distinct
FROM agg, ex
"""


def hll_distinct_by(df, group_col: str, col: str):
    """Per-group HyperLogLog: ``GROUP BY g, approx COUNT(DISTINCT x)``
    — the shape the global hll_distinct is actually used in at
    100 TB (distinct users per day, distinct docs per source). Same
    deterministic md5 bucket/rank arithmetic and integer estimate as
    hll_distinct (DuckDB-replayable; Spark's approx_count_distinct is
    the black-box native twin); state is groups x 256 small ints —
    two partial aggregations ((g, register) max-rank, then g-keyed
    fold), both map-side combinable, so the shuffle carries register
    rows, never items. The exact count rides along as the verifier
    (drop it in production; it is the only corpus-keyed agg here).
    One row per group: (g, m, n_registers_hit, sum_inv_scaled,
    est_distinct, exact_distinct). NULL group keys form their own
    group (SQL GROUP BY semantics); NULL items are skipped by both
    engines' aggregates only if the caller filters them — md5(NULL)
    is NULL and conv(NULL)=NULL, so they fold into a NULL register
    row; filter NULLs upstream for cross-engine identity."""
    from mr_mpi_blast_spark.operators.search import dsir_bucket_spark
    from mr_mpi_blast_spark.session import spread_for_compute
    bucket = dsir_bucket_spark(f"concat('hll:', {col})", HLL_M)
    v20 = (f"CAST(conv(substring(md5(concat('hll:', {col})), 9, 5), "
           f"16, 10) AS BIGINT)")
    # r12 single-scan shape (see hll_distinct): within a group the
    # registers partition the value space, so per-(g, b) distinct
    # counts (one extra aggregation level) sum to each group's exact
    # distinct — the old second corpus scan (grouped count_distinct)
    # and the null-safe group join both disappear; a NULL group key
    # still forms its own group by plain GROUP BY semantics.
    lvl1 = (spread_for_compute(df, col)
            .select(F.col(group_col).alias("g"),
                    F.col(col).alias("x"),
                    F.expr(bucket).alias("b"),
                    F.expr(_hll_rank_spark(v20)).alias("rank"))
            .groupBy("g", "b", "x").agg(F.max("rank").alias("rank")))
    regs = lvl1.groupBy("g", "b").agg(F.max("rank").alias("m_rank"),
                                      F.count("x").alias("nd"))
    zero_term = 1 << HLL_SCALE_BITS
    agg = regs.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.expr(f"CAST(shiftleft(1L, {HLL_SCALE_BITS} - m_rank) "
                     f"AS BIGINT)")).alias("s_hit"),
        F.coalesce(F.sum("nd"), F.lit(0).cast("long"))
        .alias("exact_distinct"))
    num = HLL_ALPHA_MICRO * HLL_M * HLL_M * (1 << HLL_SCALE_BITS)
    denom = agg.withColumn(
        "sum_inv_scaled",
        (F.col("s_hit") + (F.lit(HLL_M) - F.col("n_hit"))
         * F.lit(zero_term)).cast("long"))
    return denom.select(
        F.col("g").alias(group_col),
        F.lit(HLL_M).cast("long").alias("m"),
        F.col("n_hit").cast("long").alias("n_registers_hit"),
        "sum_inv_scaled",
        F.expr(f"CAST({num} div (1000000 * sum_inv_scaled) AS BIGINT)")
        .alias("est_distinct"),
        F.col("exact_distinct").cast("long"))


def hll_distinct_by_sql(group_sql: str, col_sql: str,
                        from_sql: str) -> str:
    """DuckDB replay of hll_distinct_by — identical bucket/rank and
    integer estimate arithmetic, grouped."""
    from mr_mpi_blast_spark.operators.search import dsir_bucket_duckdb
    bucket = dsir_bucket_duckdb("('hll:' || x)", HLL_M)
    v20 = "CAST(('0x' || substring(md5('hll:' || x), 9, 5)) AS BIGINT)"
    zero_term = 1 << HLL_SCALE_BITS
    num = HLL_ALPHA_MICRO * HLL_M * HLL_M * (1 << HLL_SCALE_BITS)
    return f"""
WITH items AS (SELECT {group_sql} AS g, {col_sql} AS x FROM {from_sql}),
regs AS (SELECT g, {bucket} AS b,
                max({_hll_rank_duckdb(v20)}) AS m_rank
         FROM items GROUP BY 1, 2),
agg AS (SELECT g, count(*) AS n_hit,
               sum(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - m_rank)) AS s_hit
        FROM regs GROUP BY 1),
ex AS (SELECT g, count(DISTINCT x) AS exact_distinct
       FROM items GROUP BY 1)
SELECT agg.g AS {group_sql},
       CAST({HLL_M} AS BIGINT) AS m,
       CAST(n_hit AS BIGINT) AS n_registers_hit,
       CAST(s_hit + ({HLL_M} - n_hit) * {zero_term} AS BIGINT)
         AS sum_inv_scaled,
       CAST({num} // (1000000 * (s_hit + ({HLL_M} - n_hit)
                                 * {zero_term})) AS BIGINT)
         AS est_distinct,
       CAST(exact_distinct AS BIGINT) AS exact_distinct
FROM agg JOIN ex ON agg.g IS NOT DISTINCT FROM ex.g
"""


def hll_union_distinct(df_a, col_a: str, df_b, col_b: str):
    """Distinct-cardinality algebra over TWO corpora from their
    sketches alone — the federation story: each side reduces to 256
    small ints, the union sketch is their register-wise MAX (exactly
    how 1000 executors' shard sketches combine), and the intersection
    estimate falls out by inclusion-exclusion
    (est_a + est_b - est_union, clamped at 0 — I-E error can dip
    negative for near-disjoint sides; its relative error is on the
    UNION's scale, the standard HLL-intersection caveat). The exact
    union count rides along as the verifier. One row:
    (m, est_a, est_b, est_union, est_intersection, exact_union).
    Same deterministic md5 arithmetic as hll_distinct, so a DuckDB
    oracle replays all four estimates bit-exactly."""
    from mr_mpi_blast_spark.operators.search import dsir_bucket_spark

    def regs(df, col):
        bucket = dsir_bucket_spark(f"concat('hll:', {col})", HLL_M)
        v20 = (f"CAST(conv(substring(md5(concat('hll:', {col})), 9, "
               f"5), 16, 10) AS BIGINT)")
        return (df.select(F.expr(bucket).alias("b"),
                          F.expr(_hll_rank_spark(v20)).alias("rank"))
                .groupBy("b").agg(F.max("rank").alias("m_rank")))

    zero_term = 1 << HLL_SCALE_BITS
    num = HLL_ALPHA_MICRO * HLL_M * HLL_M * (1 << HLL_SCALE_BITS)

    def est(regs_df, name):
        return (regs_df.agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.sum(F.expr(
                f"CAST(shiftleft(1L, {HLL_SCALE_BITS} - m_rank) "
                f"AS BIGINT)")).alias("s_hit"))
            .select(F.expr(
                f"CAST({num} div (1000000 * (s_hit + ({HLL_M} - n_hit)"
                f" * {zero_term})) AS BIGINT)").alias(name)))

    # NOTE (r12 measured): probed both a spread_for_compute on the
    # register scans and a localCheckpoint of ra/rb (each side feeds
    # its own estimate AND the union merge) — both LOST to this lazy
    # form at sf0.1 (0.75 s -> 1.0 / 2.2 s): the md5 register build
    # over these side tables is cheaper than the added exchange /
    # materialization barriers. Left alone deliberately.
    ra, rb = regs(df_a, col_a), regs(df_b, col_b)
    ru = (ra.unionByName(rb).groupBy("b")
          .agg(F.max("m_rank").alias("m_rank")))
    exact = (df_a.select(F.col(col_a).alias("x"))
             .unionByName(df_b.select(F.col(col_b).alias("x")))
             .agg(F.count_distinct("x").alias("exact_union")))
    out = (est(ra, "est_a").crossJoin(est(rb, "est_b"))
           .crossJoin(est(ru, "est_union")).crossJoin(exact))
    return out.select(
        F.lit(HLL_M).cast("long").alias("m"),
        "est_a", "est_b", "est_union",
        F.greatest(F.lit(0).cast("long"),
                   (F.col("est_a") + F.col("est_b")
                    - F.col("est_union")).cast("long"))
        .alias("est_intersection"),
        F.col("exact_union").cast("long"))


def hll_union_distinct_sql(col_a_sql: str, from_a_sql: str,
                           col_b_sql: str, from_b_sql: str) -> str:
    """DuckDB replay of hll_union_distinct — identical register
    build, register-max union, and inclusion-exclusion arithmetic."""
    from mr_mpi_blast_spark.operators.search import dsir_bucket_duckdb
    bucket = dsir_bucket_duckdb("('hll:' || x)", HLL_M)
    v20 = "CAST(('0x' || substring(md5('hll:' || x), 9, 5)) AS BIGINT)"
    zero_term = 1 << HLL_SCALE_BITS
    num = HLL_ALPHA_MICRO * HLL_M * HLL_M * (1 << HLL_SCALE_BITS)
    est = (f"CAST({num} // (1000000 * (s_hit + ({HLL_M} - n_hit) "
           f"* {zero_term})) AS BIGINT)")
    return f"""
WITH ia AS (SELECT {col_a_sql} AS x FROM {from_a_sql}),
ib AS (SELECT {col_b_sql} AS x FROM {from_b_sql}),
ra AS (SELECT {bucket} AS b, max({_hll_rank_duckdb(v20)}) AS m_rank
       FROM ia GROUP BY 1),
rb AS (SELECT {bucket} AS b, max({_hll_rank_duckdb(v20)}) AS m_rank
       FROM ib GROUP BY 1),
ru AS (SELECT b, max(m_rank) AS m_rank
       FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
       GROUP BY 1),
ea AS (SELECT count(*) AS n_hit,
              sum(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - m_rank))
                AS s_hit FROM ra),
eb AS (SELECT count(*) AS n_hit,
              sum(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - m_rank))
                AS s_hit FROM rb),
eu AS (SELECT count(*) AS n_hit,
              sum(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - m_rank))
                AS s_hit FROM ru),
ex AS (SELECT count(DISTINCT x) AS exact_union
       FROM (SELECT x FROM ia UNION ALL SELECT x FROM ib))
SELECT CAST({HLL_M} AS BIGINT) AS m,
       (SELECT {est} FROM ea) AS est_a,
       (SELECT {est} FROM eb) AS est_b,
       (SELECT {est} FROM eu) AS est_union,
       CAST(greatest(0, (SELECT {est} FROM ea)
                        + (SELECT {est} FROM eb)
                        - (SELECT {est} FROM eu)) AS BIGINT)
         AS est_intersection,
       CAST(exact_union AS BIGINT) AS exact_union
FROM ex
"""


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (Bloom 1970) — the runtime-filter
# primitive, exact-integer and oracle-replayable.
# ---------------------------------------------------------------------------

BLOOM_BITS = 8192
BLOOM_K = 3


def _bloom_positions_spark(col: str, bits: int | None = None):
    # bits resolves to the MODULE constant at call time (None default)
    # so tests/callers overriding profile.BLOOM_BITS keep working
    from mr_mpi_blast_spark.operators.search import dsir_bucket_spark
    bits = BLOOM_BITS if bits is None else bits
    return [dsir_bucket_spark(f"concat('bloom{i}:', {col})", bits)
            for i in range(BLOOM_K)]


def bloom_positions_duckdb(col_sql: str,
                           bits: int | None = None) -> list[str]:
    from mr_mpi_blast_spark.operators.search import dsir_bucket_duckdb
    bits = BLOOM_BITS if bits is None else bits
    return [dsir_bucket_duckdb(f"('bloom{i}:' || {col_sql})", bits)
            for i in range(BLOOM_K)]


def bloom_build(keys, key_col: str):
    """The set-bit positions of a Bloom filter over ``keys`` — K md5
    positions per key, distinct. Bounded at BLOOM_BITS rows (1 KB-
    class) regardless of key count, and MERGEABLE: two filters'
    position sets union (the physical big-data form packs positions
    into int64 words with a bit_or aggregate — 128 words here — and
    words merge by OR; the positions table is that filter in its
    joinable rendering). This is the runtime-filter primitive: build
    on the dimension's selective side, ship the kilobyte, prune the
    fact scan BEFORE its shuffle — at 100 TB the difference between
    shuffling the fact table and shuffling the ~matching sliver."""
    pos = F.array(*[F.expr(p) for p in _bloom_positions_spark(key_col)])
    return (keys.select(F.explode(pos).alias("pos")).distinct())


def bloom_probe(probe, key_col: str, positions,
                keys_are_distinct: bool = False):
    """Append bloom_pass: TRUE iff all K of the key's positions are
    set. One explode + one position-table join (broadcast — the
    filter is kilobytes BY CONSTRUCTION, unlike a key-list broadcast)
    + one count==K aggregate. One-sided by construction: a true
    member always passes; a non-member passes only on a K-fold
    collision (the false-positive rate callers size BLOOM_BITS for:
    ~(n_keys*K/BLOOM_BITS)^K).

    The probe keys are deduplicated before the count==K aggregate (a
    duplicated key would tally 2K matches and fail the equality);
    callers whose probe frame is already key-distinct pass
    ``keys_are_distinct=True`` to skip the redundant shuffle."""
    pos = F.array(*[F.expr(p) for p in _bloom_positions_spark("_pk")])
    uniq = probe.select(F.col(key_col).alias("_pk"))
    if not keys_are_distinct:
        uniq = uniq.distinct()
    keyed = uniq.select("_pk", F.explode(pos).alias("pos"))
    hits = (keyed.join(F.broadcast(positions), "pos", "left_semi")
            .groupBy("_pk").agg(F.count(F.lit(1)).alias("_nhit")))
    return (probe.join(hits.select(F.col("_pk").alias(key_col),
                                   (F.col("_nhit") == BLOOM_K)
                                   .alias("bloom_pass")),
                       key_col, "left")
            .withColumn("bloom_pass",
                        F.coalesce("bloom_pass", F.lit(False))))


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch (r11) — the mergeable-quantile tier
# member. The verdict asked for "KLL or t-digest"; both are
# RANDOMIZED (KLL's compaction coin-flips, t-digest's insertion-order
# centroids), so neither is DuckDB-replayable value-for-value. The
# HdrHistogram bucketing (Tene; also DDSketch's idea with integer
# arithmetic instead of libm logs) gives the same operational
# property — bounded-size, merge-by-count-sum partial aggregates, a
# guaranteed per-value relative error — while staying deterministic
# pure-int64, the HLL/CMS/Bloom oracle discipline.
#
# Bucketing: for non-negative integer v, shift = max(0,
# bit_length(v) - SUB_BITS) (a generated integer CASE ladder — no
# logs), bucket = shift * 2^SUB_BITS + (v >> shift). The mapping is
# monotonic in v, so bucket-ordered cumulative counts ARE the value
# CDF; each bucket spans 2^shift values starting at a lower bound of
# at least 2^(SUB_BITS-1+shift), so the lower-bound estimate
# under-reports a quantile by a factor of at most 1 + 2^-(SUB_BITS-1)
# (~1.6% at SUB_BITS=7). Sketch size: at most 2^SUB_BITS buckets per
# shift level x <=56 levels — a few KB regardless of row count, and
# two shards' sketches merge by per-bucket count addition
# (associative + commutative; pinned by the merge test).
# ---------------------------------------------------------------------------

HDR_SUB_BITS = 7


def _hdr_shift_ladder(v: str) -> str:
    """shift = max(0, bit_length(v) - HDR_SUB_BITS) as a descending
    integer comparison ladder — identical text in Spark SQL and
    DuckDB (pure comparisons and literals)."""
    arms = " ".join(
        f"WHEN {v} >= {1 << (HDR_SUB_BITS + k - 1)} THEN {k}"
        for k in range(63 - HDR_SUB_BITS, 0, -1))
    return f"(CASE {arms} ELSE 0 END)"


def hdr_lower_spark(qb: str = "qb") -> str:
    """Bucket-id -> decoded lower bound (Spark SQL) — the ONE decode
    rendering hdr_quantiles and the table_profile quantile arm share,
    so the rule cannot drift between them (r12 review)."""
    return (f"shiftleft({qb} % {1 << HDR_SUB_BITS}, "
            f"{qb} div {1 << HDR_SUB_BITS})")


def hdr_bucket_spark(v: str) -> str:
    s = _hdr_shift_ladder(v)
    return (f"({s} * {1 << HDR_SUB_BITS} "
            f"+ ({v} div shiftleft(CAST(1 AS BIGINT), {s})))")


def hdr_bucket_duckdb(v: str) -> str:
    s = _hdr_shift_ladder(v)
    return (f"({s} * {1 << HDR_SUB_BITS} "
            f"+ ({v} // (CAST(1 AS BIGINT) << {s})))")


def hdr_guarded_bucket_spark(val_col: str) -> str:
    """The bucket expression wrapped in the NULL/negative guard — the
    ONE rendering both the batch sketch and its streaming twin use,
    so the loud-precondition contract cannot drift between them
    (r11 review: the stream twin originally lacked the guard and
    silently bucketed NULL/negative values the batch path rejects)."""
    return (f"CASE WHEN {val_col} IS NULL OR {val_col} < 0 THEN "
            f"raise_error('hdr_sketch: value must be a non-negative "
            f"integer - quantize and filter first') "
            f"ELSE {hdr_bucket_spark(val_col)} END")


def hdr_sketch(df: DataFrame, val_col: str) -> DataFrame:
    """The sketch itself: (bucket, cnt) over a NON-NEGATIVE integer
    column (quantize doubles to micro-units first — the engine-wide
    exactness discipline; negative inputs violate the precondition
    and fail loudly). One map-side-combinable aggregate; merge two
    sketches with union + re-sum (hdr_merge)."""
    return (df.select(F.expr(hdr_guarded_bucket_spark(val_col))
                      .alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


def hdr_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches by per-bucket count addition — the mergeability
    that lets every executor (or every day's partition) keep its own
    few-KB sketch and a 1000-way reduce produce the corpus quantiles
    without ever sorting the corpus."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def hdr_quantiles(sketch: DataFrame, qs_permille: list[int]) -> DataFrame:
    """Quantile extraction: for each q (permille), the lower bound of
    the first bucket whose bucket-ordered cumulative count reaches
    rank ceil(q*N/1000) (type-1/lower quantile). Pure integer; the
    window runs over the SKETCH (a few KB), not the data. Output:
    (q_permille, est) — est under-reports by at most one bucket width
    (relative ~2^-(SUB_BITS-1))."""
    from pyspark.sql import Window
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (sketch
           .withColumn("cum", F.sum("cnt").over(w))
           .withColumn("n", F.sum("cnt").over(
               Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
    qs = F.explode(F.array(*[F.lit(q) for q in qs_permille]))
    lower = hdr_lower_spark()
    return (cum.select("bucket", "cum", "n", qs.alias("q_permille"))
            .filter(F.col("cum") * 1000 >= F.col("q_permille") * F.col("n"))
            .groupBy("q_permille")
            .agg(F.min("bucket").alias("qb"))
            .select("q_permille", F.expr(lower).alias("est")))


def _hdr_profile_bucket(c: str) -> str:
    """table_profile's NULL-tolerant HDR bucket: NULL values map to a
    NULL bucket (filtered out — the profile's n_nulls column already
    accounts for them; a raise would make every nullable column
    unprofileable), negatives still fail loudly like hdr_sketch."""
    return (f"CASE WHEN {c} IS NULL THEN NULL "
            f"WHEN {c} < 0 THEN raise_error('table_profile: "
            f"quantile_cols must be non-negative integers - "
            f"quantize and shift first') "
            f"ELSE {hdr_bucket_spark(c)} END")


def _hdr_profile_quantiles(df: DataFrame, quantile_cols: list[str],
                           qs_permille: list[int]) -> DataFrame:
    """(col_name, p<q>_est...) — HDR quantile estimates for several
    columns from ONE column-pruned scan: each row explodes to its
    (col_name, bucket) pairs, one map-side-combined aggregate builds
    every column's sketch together, and extraction windows run over
    the few-KB sketch frame."""
    from pyspark.sql import Window
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.expr(_hdr_profile_bucket(c)).alias("bucket"))
        for c in quantile_cols]))
    sk = (df.select(pairs.alias("p"))
          .select("p.col_name", "p.bucket")
          .filter(F.col("bucket").isNotNull())
          .groupBy("col_name", "bucket")
          .agg(F.count(F.lit(1)).alias("cnt")))
    return _hdr_extract_quantiles(sk, qs_permille)


def _hdr_extract_quantiles(sk, qs_permille: list[int]):
    """Quantile extraction + per-column pivot over an already-built
    multi-column sketch ``sk`` (col_name, bucket, cnt) — split out in
    r13 so the exact profile path can feed it the sketch it derives
    from its own level-1 distinct-value stream (one corpus scan for
    the whole profile) while the approx path keeps building the
    sketch from a dedicated column-pruned pass."""
    from pyspark.sql import Window
    w = (Window.partitionBy("col_name").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy("col_name")
    cum = (sk.withColumn("cum", F.sum("cnt").over(w))
           .withColumn("n", F.sum("cnt").over(tot)))
    qs = F.explode(F.array(*[F.lit(q) for q in qs_permille]))
    lower = hdr_lower_spark()
    hits = (cum.select("col_name", "bucket", "cum", "n",
                       qs.alias("q"))
            .filter(F.col("cum") * 1000 >= F.col("q") * F.col("n"))
            .groupBy("col_name", "q")
            .agg(F.min("bucket").alias("qb"))
            .select("col_name", "q", F.expr(lower).alias("est")))
    return hits.groupBy("col_name").agg(*[
        F.max(F.when(F.col("q") == q, F.col("est")))
        .alias(f"p{q}_est") for q in qs_permille])


# (r11 review: a hdr_quantiles_sql twin briefly lived here; it was
# dead — the registered oracle (entry_queries._hdr_oracle) renders the
# ladder/bucket/rank rule itself because it also emits the exact
# type-1 quantiles in the same statement. One rendering per engine:
# Spark = hdr_quantiles above, DuckDB = _hdr_oracle, both built on
# hdr_bucket_*; a second DuckDB copy would silently drift.)
