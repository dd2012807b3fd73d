"""Hit projections P1-P10 (SURVEY §2.3) as column expressions.

All of these are scalar derivations the reference computes row-by-row
inside its reduce callback (mrblast.cpp:933-1147); here they are
Catalyst expressions over the raw kernel output — JVM-side, inside
whole-stage codegen, never touching Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mr_mpi_blast_spark.kernel.builtin import KA_NUCL_1_2


def subject_display_id(defline: Column) -> Column:
    """P2 (mrblast.cpp:972-993): GI if the id is numeric, else the
    first whitespace token of the subject defline."""
    token = F.split(F.trim(defline), " ").getItem(0)
    gi = F.regexp_extract(token, r"^gi\|(\d+)\|?", 1)
    return F.when(gi != "", gi).otherwise(token)


def project_hits(raw: DataFrame, dbsize: int,
                 classifier: bool = False,
                 ka: tuple[float, float, float] = KA_NUCL_1_2,
                 n_seqs: int | None = None,
                 length_adjust: bool = True) -> DataFrame:
    """Raw kernel rows -> canonical HITS columns (schema SURVEY §1.3).

    dbsize/n_seqs are whole-database scalars (S8, mrblast.cpp:404-433)
    folded into the e-value expression as literals — the Spark analog
    of the MPI_Bcast. ``ka`` is (lambda, K, H) for the scoring system
    (kernel.builtin.scoring_params); with length_adjust the e-value
    uses K-A effective lengths m' = qlen-l, n' = dbsize-n_seqs*l with
    l = floor(ln(K*m*n)/H) — the one-shot form of NCBI's iteration.
    """
    lam, kappa, ka_h = ka
    ident_count = F.col("ident_count").cast("double")
    align_len = F.col("align_len").cast("double")
    qlen = F.col("qlen").cast("double")

    # bitscore/evalue: Karlin-Altschul, matching kernel constants
    bitscore = (F.lit(lam) * F.col("score") - F.lit(math.log(kappa))) / F.lit(math.log(2.0))
    if length_adjust and n_seqs:
        ell = F.floor(F.log(F.lit(kappa) * qlen * F.lit(float(dbsize)))
                      / F.lit(ka_h))
        m_eff = F.greatest(qlen - ell, F.lit(1.0))
        n_eff = F.greatest(F.lit(float(dbsize)) - F.lit(float(n_seqs)) * ell,
                           F.lit(1.0))
        evalue = m_eff * n_eff * F.pow(F.lit(2.0), -bitscore)
    else:
        evalue = qlen * F.lit(float(dbsize)) * F.pow(F.lit(2.0), -bitscore)

    strands_differ = F.col("qstrand") != F.col("sstrand")
    out = raw.select(
        F.col("qid"),
        F.lit(None).cast("string").alias("qdef"),        # filled by J3
        F.col("sid"),
        # P7: % identity over alignment (0 if alignLen=0, mrblast.cpp:1035)
        F.when(align_len > 0, ident_count / align_len * 100.0)
         .otherwise(0.0).alias("ident"),
        F.col("align_len"),
        # P6: mismatches = alignLen - identityCount - nGaps (mrblast.cpp:1031-1033)
        (F.col("align_len") - F.col("ident_count") - F.col("gaps"))
        .cast("int").alias("mismatches"),
        # P5 (ungapped builtin kernel: always 0; NCBI kernel: real value)
        F.col("gaps"),
        # P3: 1-based inclusive coords (mrblast.cpp:1077-1081)
        (F.col("qstart0") + 1).alias("qstart"),
        (F.col("qend0") + 1).alias("qend"),
        # P4: swap subject coords when strands differ (mrblast.cpp:1082-1086)
        F.when(strands_differ, F.col("send0") + 1)
         .otherwise(F.col("sstart0") + 1).alias("sstart"),
        F.when(strands_differ, F.col("sstart0") + 1)
         .otherwise(F.col("send0") + 1).alias("send"),
        evalue.alias("evalue"),
        bitscore.alias("bitscore"),
        # P8/P9: classifier extras (mrblast.cpp:1062-1068)
        (ident_count / qlen * 100.0).alias("perc_ident") if classifier
        else F.lit(None).cast("double").alias("perc_ident"),
        ((F.col("qend0") + 1 - (F.col("qstart0") + 1)) / qlen * 100.0)
        .alias("perc_cover") if classifier
        else F.lit(None).cast("double").alias("perc_cover"),
    )
    return out
