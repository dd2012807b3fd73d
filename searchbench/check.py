"""The output check every benchmark search goes through.

Works on pandas frames read back from the parquet sink, so it needs no
Spark session and its tests run without one. A search passes only when
all of these hold:

- every planted (query, subject) homology is in the output;
- per query, at most NUMHITCUTOFF rows, each with evalue <= cutoff,
  and no two rows tie on the full ``operators.topk.hit_order`` key (so
  the kept top-k is well defined);
- the content digest equals the digest of every earlier search of the
  same input (within the run, and across runs through a digest file);
- for a fixed sample of queries, the rows equal an in-process
  ``align_block`` over every volume plus a pandas top-k.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

HIT_COLS = ["qid", "sid", "ident", "align_len", "mismatches", "gaps",
            "qstart", "qend", "sstart", "send", "evalue", "bitscore"]
FLOAT_COLS = ["ident", "evalue", "bitscore"]
# operators.topk.hit_order as (column, ascending) pairs
HIT_ORDER = [("evalue", True), ("bitscore", False), ("ident", False),
             ("sid", True), ("qstart", True), ("sstart", True)]


@dataclass
class CheckResult:
    recall: float
    digest: str
    rows: int
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def sort_hits(hits: pd.DataFrame) -> pd.DataFrame:
    """Rows per query in hit order, queries ascending."""
    cols = ["qid"] + [c for c, _ in HIT_ORDER]
    asc = [True] + [a for _, a in HIT_ORDER]
    return hits.sort_values(cols, ascending=asc, kind="mergesort") \
               .reset_index(drop=True)


def digest(hits: pd.DataFrame) -> str:
    """SHA-256 over the rows in canonical order; floats by repr, which
    round-trips float64 exactly."""
    h = hashlib.sha256()
    for row in sort_hits(hits)[HIT_COLS].itertuples(index=False):
        h.update(repr(tuple(row)).encode())
        h.update(b"\n")
    return h.hexdigest()


def check_hits(hits: pd.DataFrame, planted: set[tuple[int, str]],
               cutoff: int, evalue: float) -> CheckResult:
    """Recall, per-query cap, e-value cap and top-k order of one
    search's output."""
    problems = []
    got = set(zip(hits["qid"].astype("int64").tolist(),
                  hits["sid"].tolist()))
    found = len(planted & got)
    recall = found / len(planted) if planted else 1.0
    if found < len(planted):
        missing = sorted(planted - got)[:3]
        problems.append(f"{len(planted) - found} planted homologies "
                        f"missing, e.g. {missing}")
    if cutoff > 0 and len(hits):
        worst = int(hits.groupby("qid").size().max())
        if worst > cutoff:
            problems.append(f"a query has {worst} rows > cutoff {cutoff}")
    if len(hits) and not (hits["evalue"] <= evalue).all():
        problems.append(f"rows with evalue > {evalue}")
    key = ["qid"] + [c for c, _ in HIT_ORDER]
    if hits.duplicated(key).any():
        problems.append("rows tie on the full hit order")
    return CheckResult(recall, digest(hits), len(hits), problems)


class DigestBook:
    """Digests of earlier searches, keyed by input. A later search of
    the same input must reproduce the digest exactly. Backed by a JSON
    file so runs of the same workload and seed check each other."""

    def __init__(self, path: str):
        self.path = path
        self.known: dict[str, str] = {}
        try:
            with open(path) as fh:
                self.known = json.load(fh)
        except (OSError, ValueError):
            self.known = {}

    def check(self, key: str, value: str) -> str | None:
        """None when consistent; else a problem string. Records the
        first digest seen for ``key``."""
        prev = self.known.setdefault(key, value)
        if prev != value:
            return f"digest {value[:12]} differs from earlier {prev[:12]}"
        return None

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.known, fh, sort_keys=True)
        os.replace(tmp, self.path)


def project_raw(raw: pd.DataFrame, dbsize: int, n_seqs: int,
                ka: tuple[float, float, float]) -> pd.DataFrame:
    """RAW_HITS -> hit columns, the same formulas as
    ``functions.projections.project_hits`` with length adjustment."""
    lam, kappa, ka_h = ka
    qlen = raw["qlen"].astype("float64")
    align_len = raw["align_len"].astype("float64")
    bitscore = (lam * raw["score"] - math.log(kappa)) / math.log(2.0)
    ell = np.floor(np.log(kappa * qlen * float(dbsize)) / ka_h)
    m_eff = np.maximum(qlen - ell, 1.0)
    n_eff = np.maximum(float(dbsize) - float(n_seqs) * ell, 1.0)
    differ = raw["qstrand"] != raw["sstrand"]
    return pd.DataFrame({
        "qid": raw["qid"].astype("int64"),
        "sid": raw["sid"],
        "ident": np.where(align_len > 0,
                          raw["ident_count"] / align_len * 100.0, 0.0),
        "align_len": raw["align_len"].astype("int64"),
        "mismatches": (raw["align_len"] - raw["ident_count"]
                       - raw["gaps"]).astype("int64"),
        "gaps": raw["gaps"].astype("int64"),
        "qstart": raw["qstart0"].astype("int64") + 1,
        "qend": raw["qend0"].astype("int64") + 1,
        "sstart": np.where(differ, raw["send0"], raw["sstart0"]) + 1,
        "send": np.where(differ, raw["sstart0"], raw["send0"]) + 1,
        "evalue": m_eff * n_eff * np.power(2.0, -bitscore),
        "bitscore": bitscore,
    })


def reference_topk(raw: pd.DataFrame, dbsize: int, n_seqs: int,
                   ka: tuple[float, float, float], evalue: float,
                   cutoff: int) -> pd.DataFrame:
    """Pandas twin of the pipeline tail: project, e-value filter,
    per-query top-k in hit order."""
    hits = project_raw(raw, dbsize, n_seqs, ka)
    hits = sort_hits(hits[hits["evalue"] <= evalue])
    if cutoff > 0:
        hits = hits[hits.groupby("qid").cumcount() < cutoff]
    return hits.reset_index(drop=True)


def compare_sample(output: pd.DataFrame, reference: pd.DataFrame,
                   qids: list[int]) -> list[str]:
    """Problems found comparing the output rows of ``qids`` with the
    reference rows: exact on integers and ids, 1e-9 relative on
    floats."""
    got = sort_hits(output[output["qid"].isin(qids)])[HIT_COLS]
    want = sort_hits(reference[reference["qid"].isin(qids)])[HIT_COLS]
    if len(got) != len(want):
        return [f"sample {qids}: {len(got)} rows, reference {len(want)}"]
    problems = []
    for c in HIT_COLS:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        same = (np.allclose(a.astype(float), b.astype(float), rtol=1e-9,
                            atol=0.0) if c in FLOAT_COLS
                else bool((a.astype(str) == b.astype(str)).all()))
        if not same:
            problems.append(f"sample {qids}: column {c} differs")
    return problems
