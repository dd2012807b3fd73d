"""Distributed BPE tokenizer learning (beyond-reference training-data
surface).

``bpe_learn`` fits byte-pair-encoding merges on a corpus — the
tokenizer-training step of an LLM data pipeline (Sennrich et al. 2016;
the GPT-2/Llama tokenizers are BPE fits over exactly this loop):

  1. Aggregate the corpus ONCE into the distinct-word frequency table
     (word, wf) — the classical BPE working set (fastBPE /
     HuggingFace train from word counts, not raw text).
  2. Represent each word as its character tokens joined by an
     out-of-alphabet delimiter (chr(31)).
  3. Iterate n_merges times: count adjacent token pairs weighted by
     wf (map-side-combinable hash aggregate), take the max-count pair
     (ties: lexicographic on the pair — deterministic across engines),
     and apply the merge to every word with a greedy left fold over
     the token list: append x, or — when the accumulated string's
     LAST token equals lft and x equals rgt — merge them (appending
     rgt works because removing lft then appending lft||rgt is just
     appending rgt). The fold is the canonical BPE merge-apply: a
     plain string replace() over the delimited form would falsely
     match across token boundaries (a token with rgt as a strict
     prefix, e.g. merging (w, e) against tokens [w, es], or lft as a
     strict suffix), and anchoring the search with delimiters breaks
     greedy adjacency (consecutive pairs share the boundary char the
     first match consumes). Both engines evaluate the identical fold
     (Spark aggregate() / DuckDB list_reduce(), probed equivalent
     including the single-token identity case).

100 TB shape: the corpus is scanned once for the word-count table
(hash agg on the word — map-side-combinable; the caller should stage
it to parquet through the catalog's artifact store,
entry_queries._staged, as the registered query does); each of the
n_merges iterations then runs against a MATERIALIZED re-tokenization
of that table (localCheckpoint by default — one merge applied per
materialization), so per-iteration
work, Catalyst expression depth, and plan-analysis cost are all O(1)
in the merge count: a 32k-vocabulary fit is 32k × (one map-side-
combinable pair aggregate + one single-fold re-tokenize job), total
O(n_merges), not the O(n_merges²) a stacked-fold re-derivation would
cost. Per-word work is O(word length), the pair aggregate carries at
most |distinct pairs| rows per partition after partial aggregation,
and only ONE row (the argmax) returns to the driver per iteration.
Nothing corpus-sized ever reaches the driver. The word table itself
is vocabulary-sized (≈10⁸ distinct words for a web corpus — a few GB
across the cluster), so holding two generations of it in
MEMORY_AND_DISK block storage is cheap; superseded checkpoints are
freed by the ContextCleaner as the driver drops its references. On a
cluster with executor churn, pass ``materialize=`` a parquet-staging
function (or a reliable ``.checkpoint()``) instead of the default
localCheckpoint, whose blocks do not survive executor loss.

Cross-engine exactness: every value in the loop is a string or an
exact integer count (no floats anywhere), so the DuckDB oracle replays
the full iteration chain value-identically; the only ordering used is
binary string comparison, identical in both engines for the [a-z]
token alphabet.

Reference analogy: the reference's one iterative control loop is
NUMITER query batching (mrblast.cpp USERGUIDE NUMITER); this operator
is the same driver-side iterate / executor-side aggregate split,
applied to tokenizer fitting.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

from pyspark.sql import DataFrame, functions as F

from mr_mpi_blast_spark.functions.hashing import normalized_text

#: out-of-alphabet token delimiter (unit separator); normalized_text
#: yields [a-z0-9 punctuation] words, never control characters
BPE_DELIM = "\x1f"


@dataclass(frozen=True)
class BpeMerge:
    rank: int          # 1-based merge order
    lft: str           # left token of the merged pair
    rgt: str           # right token
    n: int             # weighted pair count at merge time


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The BPE working set: (word, wf) over the normalized corpus —
    the ONE corpus-sized aggregate; everything else runs on it."""
    return (docs.select(F.explode(
                F.split(normalized_text(F.col(text_col)), " "))
                .alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("wf")))


def _apply_merge(tcol, lft: str, rgt: str):
    """Greedy left fold applying ONE merge to a delimited token
    string: walk the tokens; when the accumulator's last token is
    ``lft`` and the incoming token is ``rgt``, append ``rgt`` without
    a delimiter (= replace the pair by the merged token), else append
    the token behind a delimiter. Column-API literals, so token text
    never needs SQL quoting."""
    arr = F.split(tcol, BPE_DELIM)
    return F.aggregate(
        F.slice(arr, F.lit(2), F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        lambda acc, x: F.when(
            (x == F.lit(rgt)) & ((acc == F.lit(lft)) |
                                 acc.endswith(F.lit(BPE_DELIM + lft))),
            F.concat(acc, F.lit(rgt)),
        ).otherwise(F.concat(acc, F.lit(BPE_DELIM), x)))


#: the delimited character split of the ``word`` column — iteration
#: 0's tokenization. normalized_text does NOT strip control
#: characters, so a word containing the chr(31) delimiter would
#: silently re-split into phantom empty tokens and corrupt every
#: count (identically in both engines — the oracle could never flag
#: it). Fail loudly in the job instead.
_CHAR_SPLIT_SQL = (
    "CASE WHEN contains(word, chr(31)) THEN "
    "raise_error('bpe: a word contains the chr(31) token delimiter') "
    "ELSE array_join(transform(sequence(1, length(word)), "
    "i -> substring(word, i, 1)), chr(31)) END")


def char_tokens(wc: DataFrame) -> DataFrame:
    """The delimited character tokenization (t, wf) of a (word, wf)
    table — the learning loop's iteration-0 working frame."""
    return wc.select(F.expr(_CHAR_SPLIT_SQL).alias("t"), "wf")


def _pair_counts(cur: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts of a (t, wf) frame — one
    map-side-combinable hash aggregate."""
    arr = F.split(F.col("t"), BPE_DELIM)
    # CASE guard: Spark's sequence(1, 0) is a DESCENDING [1, 0],
    # not empty — single-token words must contribute no pairs
    return (cur.select(arr.alias("arr"), "wf")
            .select(F.explode(F.expr(
                "CASE WHEN size(arr) >= 2 THEN "
                "sequence(1, size(arr) - 1) ELSE array() END"))
                .alias("i"), "arr", "wf")
            .select(F.element_at("arr", F.col("i")).alias("lft"),
                    F.element_at("arr", F.col("i") + 1).alias("rgt"),
                    "wf")
            .groupBy("lft", "rgt")
            .agg(F.sum("wf").alias("n")))


def bpe_learn_iter(
    wc: DataFrame,
    n_merges: int,
    materialize_every: int = 1,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
) -> Iterator[BpeMerge]:
    """Learn up to ``n_merges`` BPE merges, yielding each as soon as
    its argmax row lands on the driver.

    Driver-side loop, executor-side aggregates — with the working
    (tokens, wf) frame MATERIALIZED every ``materialize_every`` merges
    (``DataFrame.localCheckpoint`` unless a ``materialize`` callable —
    e.g. a parquet stage or reliable ``.checkpoint()`` for clusters
    with executor churn — is supplied). Iteration k therefore applies
    at most ``materialize_every`` single-merge folds on top of the
    previous materialization: per-iteration work and Catalyst
    expression depth are O(1) in the merge count, O(n_merges) total —
    a stacked-fold re-derivation from the raw word table would be
    O(n_merges²) with an expression tree that deepens every iteration
    (tens-of-thousands-deep lambda chains at a production 32k-64k
    vocabulary). Each iteration runs one pair-count job and collects
    exactly ONE row (the argmax); the merge apply itself rides the
    next materialization. Stops early if no pair remains (every word
    fully merged). Ties break on (lft ASC, rgt ASC) after count DESC.
    Values are unchanged from the unstaged form by construction, so
    the DuckDB oracle replay (``bpe_oracle_sql``) is unaffected.

    Storage lifecycle: a superseded localCheckpoint's blocks are
    reclaimed by ContextCleaner once the driver drops its reference
    (this loop holds only the latest) — asynchronous but bounded in
    steady state. A deployment that needs deterministic reclamation
    (or executor-churn fault tolerance) at a 32k-merge production run
    passes ``materialize=`` a parquet-stage callable; the loop's
    values do not depend on the materialization mechanism.
    """
    # validate at CALL time, not first next(): this is a public
    # iterator entry point, and a generator would defer the
    # documented ValueError until the iterator is advanced — far
    # from the faulty call site (or never, if consumption is
    # conditional)
    if n_merges < 1:
        raise ValueError(f"bpe_learn: n_merges must be >= 1, "
                         f"got {n_merges}")
    if materialize_every < 1:
        raise ValueError(f"bpe_learn: materialize_every must be >= 1, "
                         f"got {materialize_every}")
    mat = materialize or (lambda df: df.localCheckpoint())

    def _iterate():
        # The eager materialization also runs the chr(31) validation
        # once, up front, instead of on every iteration's re-scan.
        cur = mat(char_tokens(wc))
        pending = 0  # merges applied since the last materialization
        for rank in range(1, n_merges + 1):
            if pending >= materialize_every:
                cur = mat(cur)
                pending = 0
            best = (_pair_counts(cur)
                    .orderBy(F.col("n").desc(), F.col("lft").asc(),
                             F.col("rgt").asc())
                    .first())
            if best is None:
                break
            m = BpeMerge(rank, best.lft, best.rgt, int(best.n))
            yield m
            cur = cur.select(
                _apply_merge(F.col("t"), m.lft, m.rgt).alias("t"), "wf")
            pending += 1

    return _iterate()


def bpe_learn(wc: DataFrame, n_merges: int,
              materialize_every: int = 1,
              materialize: Callable[[DataFrame], DataFrame] | None = None,
              ) -> list[BpeMerge]:
    """Learn ``n_merges`` BPE merges from a (word, wf) table — see
    ``bpe_learn_iter`` for the staged-materialization execution model
    that keeps per-iteration cost O(1) in the merge count."""
    return list(bpe_learn_iter(wc, n_merges, materialize_every,
                               materialize))


def merges_df(spark, merges: list[BpeMerge]) -> DataFrame:
    """Merge table as a DataFrame: (merge_rank, lft, rgt, merged,
    pair_n) — metadata-sized (n_merges rows) by construction."""
    rows = [(m.rank, m.lft, m.rgt, m.lft + m.rgt, m.n) for m in merges]
    return spark.createDataFrame(
        rows, schema="merge_rank long, lft string, rgt string, "
                     "merged string, pair_n long")


def _learn_ctes(n_merges: int, norm_sql: str) -> tuple[list[str], list[str]]:
    """The shared DuckDB learn chain: returns (ctes, per-merge selects).
    Stage k applies the previous best merges via the same greedy
    fold, recounts pairs, and takes the same (n DESC, lft, rgt)
    argmax. Strings + BIGINTs only, so the comparison is exact."""
    ctes = [
        f"w AS (SELECT word, CAST(count(*) AS BIGINT) AS wf FROM "
        f"(SELECT unnest(string_split({norm_sql}, ' ')) AS word "
        f"FROM documents) WHERE word != '' GROUP BY word)",
        "t0 AS (SELECT array_to_string(list_transform("
        "range(1, length(word) + 1), i -> substr(word, i, 1)), "
        "chr(31)) AS t, wf FROM w)",
    ]
    sel = []
    for k in range(n_merges):
        ctes.append(
            f"a{k} AS (SELECT string_split(t, chr(31)) AS arr, wf "
            f"FROM t{k})")
        ctes.append(
            f"p{k} AS (SELECT arr[i] AS lft, arr[i + 1] AS rgt, "
            f"CAST(sum(wf) AS BIGINT) AS n "
            f"FROM a{k}, UNNEST(range(1, len(arr))) AS u(i) "
            f"GROUP BY 1, 2)")
        ctes.append(
            f"b{k} AS (SELECT lft, rgt, n FROM p{k} "
            f"ORDER BY n DESC, lft, rgt LIMIT 1)")
        ctes.append(
            f"t{k + 1} AS (SELECT list_reduce(string_split(t, chr(31)), "
            f"(acc, x) -> CASE WHEN x = b.rgt AND (acc = b.lft OR "
            f"ends_with(acc, chr(31) || b.lft)) THEN acc || b.rgt "
            f"ELSE acc || chr(31) || x END) AS t, wf "
            f"FROM t{k}, b{k} AS b)")
        sel.append(f"SELECT CAST({k + 1} AS BIGINT) AS merge_rank, "
                   f"lft, rgt, lft || rgt AS merged, n AS pair_n "
                   f"FROM b{k}")
    return ctes, sel


def bpe_oracle_sql(n_merges: int, norm_sql: str) -> str:
    """DuckDB replay of the full learning iteration chain (static SQL,
    generated from the same n_merges)."""
    ctes, sel = _learn_ctes(n_merges, norm_sql)
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(sel))


# ---------------------------------------------------------------------------
# Corpus encode (the apply step of Sennrich et al. 2016): text ->
# token stream under a learned merge table.
# ---------------------------------------------------------------------------


def bpe_encode_words(words: DataFrame, merges: list[BpeMerge],
                     materialize_every: int = 16,
                     materialize: Callable[[DataFrame], DataFrame] | None
                     = None) -> DataFrame:
    """Tokenize a vocabulary: (word, ...) -> (word, ..., tokens
    array<string>), applying ``merges`` in rank order with the same
    greedy left fold the learner used. Decode is concatenation by
    construction (every merge only fuses adjacent tokens of the same
    word), so ``concat_ws('', tokens) == word`` always — pinned by the
    round-trip property test.

    Execution: the merge chain is applied as single-fold column
    expressions, re-materialized (localCheckpoint by default) every
    ``materialize_every`` merges — bounded expression depth exactly as
    in ``bpe_learn_iter``, so a 32k-merge production table costs 2k
    cheap vocabulary-sized stages, not one 32k-deep Catalyst tree.
    """
    if materialize_every < 1:
        raise ValueError("bpe_encode: materialize_every must be >= 1, "
                         f"got {materialize_every}")
    mat = materialize or (lambda df: df.localCheckpoint())
    cur = words.withColumn("_t", F.expr(_CHAR_SPLIT_SQL))
    pending = 0
    for m in sorted(merges, key=lambda m: m.rank):
        cur = cur.withColumn("_t", _apply_merge(F.col("_t"), m.lft, m.rgt))
        pending += 1
        if pending >= materialize_every:
            cur = mat(cur)
            pending = 0
    return (cur.withColumn("tokens", F.split("_t", BPE_DELIM))
            .drop("_t"))


def bpe_encode(docs: DataFrame, merges: list[BpeMerge],
               text_col: str = "text", id_col: str = "doc_id",
               materialize_every: int = 16,
               materialize: Callable[[DataFrame], DataFrame] | None = None,
               ) -> DataFrame:
    """Encode a corpus under a learned merge table: (id, text) ->
    (id, n_tokens, token_str) — the tokenizer apply step that turns a
    cleaned corpus into the token stream a training run consumes.

    100 TB shape: word boundaries cap every merge (BPE never fuses
    across words), so the corpus is first exploded to (id, pos, word)
    occurrences, the merge chain runs ONCE over the DISTINCT
    vocabulary (``bpe_encode_words`` — vocabulary-sized work,
    ~1e8 rows for a web corpus, independent of corpus size), and a
    single equi-join on ``word`` carries each word's token array back
    to its occurrences — linear fan-out (one output row per
    occurrence), AQE free to broadcast the vocabulary side when it
    fits and to split the stopword-skewed join keys when it does not.
    Per-doc reassembly is one hash aggregate
    (array_sort(collect_list(struct(pos, tokens))) -> flatten), its
    state bounded by document length, never corpus size. Documents
    whose normalized text is empty survive with n_tokens = 0 (left
    join on the id).

    Output token_str joins tokens with spaces — safe because words
    are split ON spaces, so no token can contain one; scalar columns
    keep the result driver-hash-comparable.
    """
    norm = normalized_text(F.col(text_col))
    # spread before the occurrence explode: a single-row-group corpus
    # scans as ONE task and both consumers (vocab distinct + the
    # occurrence join) inherit its width (guide §2.5)
    from mr_mpi_blast_spark.session import spread_for_compute
    occ = (spread_for_compute(docs, id_col)
           .select(F.col(id_col),
                   F.posexplode(F.split(norm, " "))
                   .alias("pos", "word"))
           .filter(F.col("word") != ""))
    vocab = occ.select("word").distinct()
    enc = bpe_encode_words(vocab, merges, materialize_every, materialize)
    per_doc = (occ.join(enc, "word")
               .groupBy(id_col)
               .agg(F.flatten(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "tokens"))),
                   lambda s: s.tokens)).alias("tokens")))
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce(F.size("tokens"), F.lit(0))
                    .cast("long").alias("n_tokens"),
                    F.coalesce(F.array_join("tokens", " "), F.lit(""))
                    .alias("token_str")))


def bpe_encode_oracle_sql(n_merges: int, norm_sql: str) -> str:
    """DuckDB replay of learn-then-encode: the shared learn chain
    fits the merge table, then the vocabulary (the learn chain's own
    word table ``w``) is re-tokenized through the same per-merge
    greedy folds and joined back to per-document word occurrences in
    position order."""
    ctes, _ = _learn_ctes(n_merges, norm_sql)
    ctes.append(
        "v0 AS (SELECT word, array_to_string(list_transform("
        "range(1, length(word) + 1), i -> substr(word, i, 1)), "
        "chr(31)) AS t FROM w)")
    for k in range(n_merges):
        # LEFT JOIN ON TRUE, not a cross join: when the corpus
        # exhausts its pairs before n_merges, b{k} is EMPTY and a
        # cross join would annihilate the vocabulary chain (every doc
        # collapsing to n_tokens=0 while the engine, fed the shorter
        # learned list, encodes normally). The learn chain tolerates
        # empty b{k} by construction; mirror that here — a NULL merge
        # row passes tokens through unchanged.
        ctes.append(
            f"v{k + 1} AS (SELECT word, "
            f"CASE WHEN b.lft IS NULL THEN t ELSE "
            f"list_reduce(string_split(t, chr(31)), "
            f"(acc, x) -> CASE WHEN x = b.rgt AND (acc = b.lft OR "
            f"ends_with(acc, chr(31) || b.lft)) THEN acc || b.rgt "
            f"ELSE acc || chr(31) || x END) END AS t "
            f"FROM v{k} LEFT JOIN b{k} b ON TRUE)")
    ctes.append(
        f"docw AS (SELECT doc_id, i AS pos, ws[i] AS word "
        f"FROM (SELECT doc_id, string_split({norm_sql}, ' ') AS ws "
        f"FROM documents), UNNEST(range(1, len(ws) + 1)) AS r(i) "
        f"WHERE ws[i] != '')")
    ctes.append(
        f"perdoc AS (SELECT doc_id, "
        f"flatten(list(string_split(v.t, chr(31)) ORDER BY pos)) "
        f"AS tokens FROM docw JOIN v{n_merges} v USING (word) "
        f"GROUP BY doc_id)")
    return ("WITH " + ",\n".join(ctes) + "\n"
            "SELECT d.doc_id, "
            "CAST(coalesce(len(p.tokens), 0) AS BIGINT) AS n_tokens, "
            "coalesce(array_to_string(p.tokens, ' '), '') AS token_str "
            "FROM documents d LEFT JOIN perdoc p USING (doc_id)")
