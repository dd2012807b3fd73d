"""Run configuration mirroring mrblast.ini (mrblast.cpp:296-325,
doc/USERGUIDE:275-347).

Kept: the keys that still mean something on Spark. Dropped: engine
tuning Spark owns — MEMSIZE/OUTOFCORE (Tungsten spill), MAPSTYLE
(pull-based task scheduler + AQE), VERBOSITY/TIMER (Spark UI/metrics),
page alignment. NUMITER survives as db-partition batching in the
pipeline driver loop.
"""

from __future__ import annotations

import dataclasses
import math
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class BlastConfig:
    # [BLAST] / command line (doc/USERGUIDE:46-66)
    task: str = "blastn"           # blastn | blastp (alphabet + defaults)
    evalue: float = 10.0           # F1 e-value threshold (BLAST default)
    word_size: int = 11            # seed k-mer length (blastn default)
    reward: int = 1                # match score (blastn default)
    penalty: int = -2              # mismatch score
    max_target_seqs: int = 0       # F2 cap on distinct subjects/query (0 = off)

    # [MR-MPI] analogs (doc/USERGUIDE:275-347)
    block_size: int = 100_000      # BLOCKSIZE: target bp per query block
    num_hit_cutoff: int = 0        # NUMHITCUTOFF: top-k per query (0 = all)
    is_classifier: bool = False    # ISCLASSIFIER: add perc_ident/perc_cover

    # F3 masking / seeding options (doc/USERGUIDE:47-50). None = engine
    # default: the NCBI kernel omits the flag entirely (BLAST+ applies
    # its own defaults, e.g. dust on for blastn), the builtin kernel
    # treats None as off so round-1 outputs are unchanged.
    # -threshold: blastp neighborhood-word seeding. A subject word
    # seeds when it scores >= threshold against the query word under
    # the matrix (including the query word itself ONLY when its
    # self-score clears the threshold — real BLAST semantics; NCBI
    # default T=11 for blastp word_size 3). None = exact-word seeding
    # (the builtin kernel's historical contract; right for long words
    # where the neighborhood is empty anyway).
    threshold: int | None = None
    dust: str | None = None        # blastn low-complexity filter: "yes"/"no"/"L W T"
    seg: str | None = None         # blastp SEG filter: "yes"/"no"/"w lc hc"
    soft_masking: bool | None = None  # masked regions excluded from seeding only
    lcase_masking: bool = False    # lowercase query regions are masked
    window_size: int | None = None # two-hit seeding window (0 = one-hit)
    # verbatim CLI pass-through for the NCBI kernel — the reference
    # forwards "most NCBI blastn/blastp options" untouched
    # (doc/USERGUIDE:53-60); this is that escape hatch. Ignored by the
    # builtin kernel.
    extra_opts: tuple[str, ...] = ()

    # kernel internals (builtin aligner)
    xdrop: int = 20                # ungapped extension X-drop
    max_kmer_hits: int = 64        # skip ultra-frequent seeds (dust analog)
    min_score: int = 0             # 0 = derive from word size

    # gapped extension (BLAST's two-stage model: ungapped X-drop first,
    # then affine-gap local DP around HSPs that clear gap_trigger).
    # Off by default: the builtin kernel's historical contract is
    # ungapped (gaps column = 0) and the gapped DP is O(window^2) per
    # HSP — opt in for fidelity, use the NCBI kernel for throughput.
    gapped: bool = False
    gap_open: int = 0              # 0 = task default (blastp 11, blastn 5)
    gap_extend: int = 0            # 0 = task default (blastp 1, blastn 2)
    gap_trigger: int = 0           # raw ungapped score to trigger DP
    #                                (0 = min_raw_score)
    # Explicit gapped Karlin-Altschul statistics (lambda, K, H) for
    # cost pairs the builtin tables lack: takes precedence over the
    # table lookup in scoring_params. Supply the row from a trusted
    # source (e.g. your BLAST+ install reports it in search headers);
    # without it, unsupported pairs raise rather than mis-score.
    ka_gapped: tuple[float, float, float] | None = None

    # the gapped DP's row-wise scan is exact only for non-negative gap
    # costs (kernel/builtin.gotoh_local_batch), so negative ones raise
    @property
    def gap_open_eff(self) -> int:
        return _gap_cost("-gapopen", self.gap_open,
                         11 if self.task == "blastp" else 5)

    @property
    def gap_extend_eff(self) -> int:
        return _gap_cost("-gapextend", self.gap_extend,
                         1 if self.task == "blastp" else 2)

    @property
    def gap_trigger_eff(self) -> int:
        return self.gap_trigger or self.min_raw_score

    # scoring matrix for protein tasks (doc/USERGUIDE:46-66 -matrix);
    # the builtin kernel implements BLOSUM62, the NCBI kernel forwards
    # any name BLAST+ knows
    matrix: str = "BLOSUM62"

    # statistics (S8): effective db length; None = compute from subjects
    dbsize: int | None = None
    # subject count for the Karlin-Altschul length adjustment; None =
    # compute from subjects (must cover the WHOLE db, like dbsize)
    n_seqs: int | None = None
    # apply the K-A length adjustment (effective m'/n') to e-values;
    # one-shot floor(ln(K*m*n)/H) approximation of NCBI's iteration
    length_adjust: bool = True

    @property
    def min_raw_score(self) -> int:
        return self.min_score if self.min_score > 0 else self.word_size + 4

    @property
    def complexity_filter(self) -> bool:
        """Low-complexity seed filtering for this task (builtin kernel's
        dust/seg analog): dust for blastn, seg for blastp; any value
        other than no/false/0 enables it."""
        v = self.dust if self.task == "blastn" else self.seg
        return v is not None and v.strip().lower() not in ("no", "false", "0")

    @property
    def subject_soft_mask(self) -> bool:
        return bool(self.soft_masking)

    @property
    def mask_fold_case(self) -> bool:
        """When any case-based masking option is in play, case is
        annotation, not sequence: the builtin kernel uppercases
        index keys and extension strings so masked regions still match
        during extension (the dustmasker/BLAST+ convention)."""
        return bool(self.soft_masking) or self.lcase_masking


def _gap_cost(option: str, value: int, default: int) -> int:
    """Effective gap cost: 0 means the task default."""
    if value < 0:
        raise ValueError(f"{option} must be >= 0, got {value}")
    return value or default


# mrblast.ini keys the MR-MPI engine consumed that Spark owns outright
# (module docstring above): parsed, surfaced in MrBlastRun.ignored,
# never mapped onto BlastConfig. LOGENABLED/TIMING are NOT here: they
# map to the runlog.py per-rank timing facility (W7).
_SPARK_OWNED = {"VERBOSITY", "TIMER", "MEMSIZE", "OUTOFCORE", "MAPSTYLE",
                "NUMITER"}


@dataclass(frozen=True)
class MrBlastRun:
    """A parsed mrblast.ini (mrblast.cpp:296-325): the BlastConfig plus
    the [FILES]/[LOG] pointers the run scripts consume. Paths resolve
    relative to the ini's directory, like the reference run dirs."""
    cfg: BlastConfig
    query_file: str | None = None
    index_file: str | None = None
    db_name: str | None = None
    db_list_file: str | None = None
    out_prefix: str = "output"
    log_file: str | None = None
    log_enabled: bool = False      # LOGENABLED -> runlog event lines
    timing: bool = False           # TIMING -> runlog per-rank timing (W7)
    opt_dump: bool = True
    ignored: dict[str, str] = dataclasses.field(default_factory=dict)


def apply_blast_cli_opts(cfg: BlastConfig,
                         opts: tuple[str, ...] | list[str] | None = None,
                         ) -> BlastConfig:
    """Fold the BLAST CLI options the builtin kernel understands from a
    pass-through option list (the reference forwards 'most NCBI
    blastn/blastp options' untouched, doc/USERGUIDE:53-60; the NCBI
    kernel still receives them verbatim — this just keeps the builtin
    kernel honest for the ones it implements):
    -gapopen/-gapextend (stage-2 costs, enabling gapped), -ungapped,
    -word_size, -reward/-penalty, -evalue, -threshold (blastp
    neighborhood-word seeding). Unknown options are left for the NCBI
    kernel's CLI."""
    opts = list(opts if opts is not None else cfg.extra_opts)
    updates: dict = {}
    i = 0
    while i < len(opts):
        o = opts[i]
        nxt = opts[i + 1] if i + 1 < len(opts) else None
        if o == "-ungapped":
            updates["gapped"] = False
            i += 1
            continue
        if nxt is not None:
            if o == "-gapopen":
                updates["gap_open"] = int(nxt)
                updates.setdefault("gapped", True)
            elif o == "-gapextend":
                updates["gap_extend"] = int(nxt)
                updates.setdefault("gapped", True)
            elif o == "-word_size":
                updates["word_size"] = int(nxt)
            elif o == "-reward":
                updates["reward"] = int(nxt)
            elif o == "-penalty":
                updates["penalty"] = int(nxt)
            elif o == "-evalue":
                updates["evalue"] = float(nxt)
            elif o == "-threshold":
                # BLAST+ accepts real-valued T and seeds on word
                # score >= T; for integer matrix scores that is
                # ceil(T), never a truncation (11.5 behaves like 12)
                updates["threshold"] = math.ceil(float(nxt))
            else:
                i += 1
                continue
            i += 2
            continue
        i += 1
    # -ungapped wins over -gapopen/-gapextend regardless of order,
    # like BLAST+ (the costs are then simply unused)
    if "-ungapped" in opts:
        updates["gapped"] = False
    return dataclasses.replace(cfg, **updates) if updates else cfg


def load_mrblast_ini(path: str,
                     base: BlastConfig | None = None) -> MrBlastRun:
    """Read a reference mrblast.ini unmodified (same KEY = value format
    boost::program_options' config_file_iterator accepts: '#' comments,
    inline comments, free whitespace; mrblast.cpp:290-325,
    doc/USERGUIDE:275-347).

    Mapping: BLOCKSIZE -> block_size, NUMHITCUTOFF -> num_hit_cutoff,
    ISCLASSIFIER -> is_classifier. Engine-tuning keys Spark owns
    (MEMSIZE/OUTOFCORE/MAPSTYLE/NUMITER/...) are parsed and reported in
    ``ignored``; NUMITER's batching survives as run_search_resumable's
    per-partition loop.
    """
    base = base or BlastConfig()
    kv: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if not line or "=" not in line:
                continue
            key, val = line.split("=", 1)
            kv[key.strip().upper()] = val.strip()

    def _resolve(p: str | None) -> str | None:
        if p is None:
            return None
        return os.path.normpath(os.path.join(os.path.dirname(
            os.path.abspath(path)), p))

    cfg = dataclasses.replace(
        base,
        block_size=int(kv.get("BLOCKSIZE", base.block_size)),
        num_hit_cutoff=int(kv.get("NUMHITCUTOFF", base.num_hit_cutoff)),
        is_classifier=bool(int(kv.get("ISCLASSIFIER", int(base.is_classifier)))),
    )
    return MrBlastRun(
        cfg=cfg,
        query_file=_resolve(kv.get("QUERYFILENAME")),
        index_file=_resolve(kv.get("INDEXFILENAME")),
        db_name=kv.get("DATABASENAME"),
        db_list_file=_resolve(kv.get("DBLISTFILENAME")),
        out_prefix=kv.get("OUTFILEPREFIX", "output"),
        log_file=kv.get("LOGFNAME"),
        log_enabled=bool(int(kv.get("LOGENABLED", 0))),
        timing=bool(int(kv.get("TIMING", 0))),
        opt_dump=bool(int(kv.get("OPTDUMP", 1))),
        ignored={k: v for k, v in kv.items() if k in _SPARK_OWNED},
    )
