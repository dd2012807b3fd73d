"""mrblast.ini compatibility reader (mrblast.cpp:296-325): every ini
shape the reference ships — tutorial, test examples, production
scripts — parses unmodified, and the mapped values match an
independent regex scan of the raw file (so the parser can't drift
from the format). The reference-shaped inis are written by the tests
themselves; the repo's own examples/mrblast.ini rides along."""

import os
import re

import pytest

from mr_mpi_blast_spark.config import BlastConfig, load_mrblast_ini

# Reference-shaped inis (four sections [MR-MPI] [LOG] [BLAST] [FILES],
# KEY = value, '#' comments, inline comments, QUERYFILENAME relative
# to the ini's directory): the tutorial layout, the two shipped test
# examples (generic vs classifier output) and an older production ini
# that predates NUMHITCUTOFF.
INIS = {
    "doc/tutorial/mrblast.ini": """\
#
# MR-MPI-BLAST configuration (tutorial)
#
[MR-MPI]
MEMSIZE   = 64          # MB per page
OUTOFCORE = 1
MAPSTYLE  = 3           # locality-aware master/worker
NUMITER   = 2
VERBOSITY = 0
TIMER     = 0

[LOG]
LOGENABLED = 1
LOGFNAME   = mrblast.log
TIMING     = 1

[BLAST]
BLOCKSIZE    = 5000     # query bp per work item
NUMHITCUTOFF = 100
ISCLASSIFIER = 0

[FILES]
QUERYFILENAME  = ../data/tutorial_query.fa   # relative path
INDEXFILENAME  = ../data/tutorial_query.fa.idx
DATABASENAME   = tutorial_db
DBLISTFILENAME = dblist.txt
OUTFILEPREFIX  = tutorial
""",
    "examples/test/generic-test/mrblast.ini": """\
[MR-MPI]
MEMSIZE = 8
MAPSTYLE = 3

[LOG]
LOGENABLED = 0
TIMING = 0

[BLAST]
BLOCKSIZE = 1000
NUMHITCUTOFF = 10
ISCLASSIFIER = 0        # generic 12-column layout

[FILES]
QUERYFILENAME = query.fa
DBLISTFILENAME = dblist.txt
OUTFILEPREFIX = generic
""",
    "examples/test/classifier-test/mrblast.ini": """\
[MR-MPI]
MEMSIZE = 8
MAPSTYLE = 3

[LOG]
LOGENABLED = 0
TIMING = 0

[BLAST]
BLOCKSIZE = 1000
NUMHITCUTOFF = 10
ISCLASSIFIER = 1        # 14-column classifier layout

[FILES]
QUERYFILENAME = ./query.fa
DBLISTFILENAME = dblist.txt
OUTFILEPREFIX = classifier
""",
    "scripts/production/2011/mrblast.ini": """\
# production run, 2011 (no NUMHITCUTOFF key yet)
[MR-MPI]
MEMSIZE = 1024
OUTOFCORE = 0
MAPSTYLE = 3
NUMITER = 8

[LOG]
LOGENABLED = 1
LOGFNAME = prod.log

[BLAST]
BLOCKSIZE = 250000      # ~250 kbp of reads per work item
ISCLASSIFIER = 1

[FILES]
QUERYFILENAME = ../../input/reads.fa
DBLISTFILENAME = ../../input/dblist.txt
OUTFILEPREFIX = prod2011
""",
}

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLE = "examples/mrblast.ini"              # the repo's own example


def _ini_path(tmp_path, rel: str) -> str:
    """The ini at ``rel``: written under tmp_path for the
    reference-shaped ones, read in place for the repo's example."""
    if rel not in INIS:
        return os.path.join(REPO, rel)
    path = tmp_path / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(INIS[rel])
    return str(path)


def raw_value(path: str, key: str) -> str | None:
    """Independent extraction: KEY = value with '#' comments."""
    pat = re.compile(rf"^\s*{key}\s*=\s*([^#\n]*)")
    with open(path) as f:
        for line in f:
            m = pat.match(line)
            if m:
                return m.group(1).strip()
    return None


@pytest.mark.parametrize("rel", sorted(INIS) + [EXAMPLE])
def test_reference_inis_parse_unmodified(rel, tmp_path):
    """Older production inis omit some keys (NUMHITCUTOFF predates
    them) — those fall back to the base config, everything present
    must match the raw file."""
    path = _ini_path(tmp_path, rel)
    base = BlastConfig()
    run = load_mrblast_ini(path, base=base)

    def want(key, conv, fallback):
        v = raw_value(path, key)
        return fallback if v is None else conv(v)

    assert run.cfg.block_size == want("BLOCKSIZE", int, base.block_size)
    assert run.cfg.num_hit_cutoff == want("NUMHITCUTOFF", int,
                                          base.num_hit_cutoff)
    assert run.cfg.is_classifier == want("ISCLASSIFIER",
                                         lambda v: bool(int(v)),
                                         base.is_classifier)
    assert run.out_prefix == want("OUTFILEPREFIX", str, "output")
    # file pointers resolve relative to the ini's directory
    q = raw_value(path, "QUERYFILENAME")
    if q is not None:
        assert run.query_file == os.path.normpath(
            os.path.join(os.path.dirname(os.path.abspath(path)), q))
    # engine knobs Spark owns are reported, not applied
    assert "MEMSIZE" in run.ignored


def test_ini_fixtures_cover_reference_shapes(tmp_path):
    """The in-test inis carry every shape the parser must survive:
    both ISCLASSIFIER values, an ini without NUMHITCUTOFF, inline
    comments after values, and relative query paths."""
    paths = {rel: _ini_path(tmp_path, rel) for rel in sorted(INIS)}
    flags = {raw_value(p, "ISCLASSIFIER") for p in paths.values()}
    assert {"0", "1"} <= flags
    assert any(raw_value(p, "NUMHITCUTOFF") is None
               for p in paths.values())
    texts = [open(p).read() for p in paths.values()]
    assert all(re.search(r"^\w+\s*=\s*\S+\s+#", t, re.M) for t in texts)
    assert all(not os.path.isabs(raw_value(p, "QUERYFILENAME"))
               for p in paths.values())
    # the older production ini really falls back to the base cutoff
    old = load_mrblast_ini(paths["scripts/production/2011/mrblast.ini"],
                           base=BlastConfig(num_hit_cutoff=33))
    assert old.cfg.num_hit_cutoff == 33
    assert (old.cfg.block_size, old.cfg.is_classifier) == (250000, True)
    assert old.ignored == {"MEMSIZE": "1024", "OUTOFCORE": "0",
                           "MAPSTYLE": "3", "NUMITER": "8"}


def test_classifier_flag_distinguishes_examples(tmp_path):
    flags = {rel.split("/")[-2]:
             load_mrblast_ini(_ini_path(tmp_path, rel)).cfg.is_classifier
             for rel in sorted(INIS) if rel.startswith("examples/test/")}
    assert flags == {"classifier-test": True, "generic-test": False}


def test_base_config_survives_unmapped_fields(tmp_path):
    ini = tmp_path / "m.ini"
    ini.write_text("BLOCKSIZE = 500\nNUMHITCUTOFF = 7\nISCLASSIFIER = 0\n")
    base = BlastConfig(task="blastp", evalue=1e-4, word_size=5)
    run = load_mrblast_ini(str(ini), base=base)
    assert run.cfg.block_size == 500
    assert run.cfg.num_hit_cutoff == 7
    assert (run.cfg.task, run.cfg.evalue, run.cfg.word_size) == \
        ("blastp", 1e-4, 5)


def test_apply_blast_cli_opts_gap_options():
    from mr_mpi_blast_spark.config import BlastConfig, apply_blast_cli_opts

    cfg = apply_blast_cli_opts(
        BlastConfig(task="blastp"),
        ("-gapopen", "9", "-gapextend", "2", "-evalue", "1e-5"))
    assert cfg.gapped and cfg.gap_open_eff == 9 and cfg.gap_extend_eff == 2
    assert cfg.evalue == 1e-5

    ug = apply_blast_cli_opts(
        BlastConfig(task="blastp"),
        ("-ungapped", "-gapopen", "9"))
    assert not ug.gapped

    # unknowns are ignored (left for the NCBI CLI), known ones applied
    mixed = apply_blast_cli_opts(
        BlastConfig(), ("-num_threads", "4", "-word_size", "7"))
    assert mixed.word_size == 7 and mixed.extra_opts == ()


def test_apply_blast_cli_opts_threshold_real_valued():
    """BLAST+ accepts real-valued -threshold and compares word score
    >= T; with integer matrix scores that means ceil(T), never a
    truncation (11.5 must behave like 12, not 11)."""
    from mr_mpi_blast_spark.config import BlastConfig, apply_blast_cli_opts
    base = BlastConfig(task="blastp")
    assert apply_blast_cli_opts(base, ["-threshold", "11"]).threshold == 11
    assert apply_blast_cli_opts(base, ["-threshold", "11.5"]).threshold == 12
    assert apply_blast_cli_opts(base, ["-threshold", "11.0"]).threshold == 11
