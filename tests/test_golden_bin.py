"""Golden decode of legacy .bin hit files in the reference engine's
native record layout.

The round-trip test (test_sinks) proves writer and reader agree with
each other; this one proves the reader agrees with the layout the C++
engine writes (mrblast.cpp:1216-1242) and its converters decode with
the native-alignment struct 'L40sdIIIIIIIdd' (+'dd' classifier;
load_csv.py:107-109), so any drift in our struct layout
(=Q40sdIIIIIII4xdd) fails here.

The fixtures are built here byte by byte with ``struct.pack`` in that
native layout — never by the writer under test — next to their .def
defline sidecars ('uid<TAB>>defline' per line, seqindexer.py:188-197),
and their bytes are pinned by golden md5s. The independent decode below
re-expresses load_csv.py's loop (native-alignment struct, NUL-
partitioned sId, defline sidecar merge) in a few lines of test code —
it is the oracle, read_legacy_bin is the subject.
"""

import glob
import hashlib
import os
import struct

import pytest

from pyspark.sql import functions as F

from mr_mpi_blast_spark.sinks.legacy_bin import legacy_record_size, read_legacy_bin

# md5 of (every .bin file's bytes in file order, the .def sidecar's)
GOLDEN_MD5 = {False: ("c88d716a5209814fb57b16e52f07dbe0",
                     "cf116a9f0d910efb9d75529211419693"),
              True: ("205439c63e507da216717d1623af0028",
                     "cf116a9f0d910efb9d75529211419693")}


def _records(classifier: bool) -> list[tuple]:
    """Hit records shaped like engine output: several HSPs per query, a
    qid above 2^32, subject ids from short to exactly 40 bytes (no NUL
    terminator, mrblast.cpp:1072), plus- and minus-strand subject
    coordinates, zero and tiny e-values, fractional bitscores."""
    out = []
    for i in range(37):
        qid = 3 + i // 3 + (1 << 33 if i == 36 else 0)
        sid = f"gi|{2000 + 11 * i}|gb|AC{17 * i:06d}.{i % 4}|"
        if i % 9 == 8:
            sid = (sid + "y" * 40)[:40]
        align_len, mism, gaps = 40 + 5 * i, i % 5, i % 4
        qstart = 1 + 2 * i
        sstart, send = 900 - 3 * i, 900 - 3 * i + align_len - 1
        if i % 2:
            sstart, send = send, sstart
        rec = (qid, sid.encode("ascii"),
               100.0 * (align_len - mism - gaps) / align_len,
               align_len, mism, gaps, qstart, qstart + align_len - 1,
               sstart, send,
               0.0 if i == 4 else 1.3 * 10.0 ** -(i * 7 % 150),
               30.5 + 2.25 * i)
        if classifier:
            rec += (rec[2], 100.0 * align_len / (align_len + i % 6))
        out.append(rec)
    return out


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    """{classifier: (hits dir, .def path, records)} — each record set
    split over two files, like one output file per rank."""
    out = {}
    for classifier in (False, True):
        st = struct.Struct("L40sdIIIIIIIdd" + ("dd" if classifier else ""))
        recs = _records(classifier)
        d = tmp_path_factory.mktemp("classifier" if classifier else "generic")
        hits = d / "hits"
        hits.mkdir()
        blob = b""
        for part in range(2):
            data = b"".join(st.pack(*r) for r in recs[part::2])
            (hits / f"output-hits-0-{part:07d}.txt.bin").write_bytes(data)
            blob += data
        qids = sorted({r[0] for r in recs} | {2})    # uid 2: no hits
        sidecar = "".join(f"{q}\t>read_{q} sample={q % 7} len={100 + q % 50}\n"
                          for q in qids)
        def_path = d / "seqs.fa.def"
        def_path.write_text(sidecar)
        assert (hashlib.md5(blob).hexdigest(),
                hashlib.md5(sidecar.encode()).hexdigest()) \
            == GOLDEN_MD5[classifier]
        out[classifier] = (str(hits), str(def_path), recs)
    return out


def native_decode(path: str, classifier: bool):
    """The reference converter's decode, re-expressed: native-alignment
    struct 'L40sdIIIIIIIdd' (+'dd' classifier), sId cut at first NUL."""
    st = struct.Struct("L40sdIIIIIIIdd" + ("dd" if classifier else ""))
    out = []
    with open(path, "rb") as f:
        data = f.read()
    assert len(data) % st.size == 0, "partial record => corrupt/misaligned"
    for rec in st.iter_unpack(data):
        sid = rec[1].partition(b"\0")[0].decode("ascii")
        out.append((rec[0], sid) + rec[2:])
    return out


def load_def(path: str) -> dict[int, str]:
    """.def sidecar: 'uid<TAB>>defline' per line (seqindexer.py:188-197)."""
    d = {}
    with open(path) as f:
        for line in f:
            uid, defline = line.rstrip("\n").split("\t", 1)
            d[int(uid)] = defline.lstrip(">")
    return d


def test_fixture_layout():
    """The native layout the reference writes: 104-byte generic and
    120-byte classifier records on LP64, as the decoder expects."""
    assert struct.calcsize("L40sdIIIIIIIdd") == legacy_record_size(False) \
        == 104
    assert struct.calcsize("L40sdIIIIIIIdddd") == legacy_record_size(True) \
        == 120


@pytest.mark.parametrize("classifier", [False, True])
def test_decode_matches_reference_converter(spark, fixtures, classifier):
    hits_dir, _def_path, recs = fixtures[classifier]
    files = sorted(glob.glob(os.path.join(hits_dir, "*.bin")))
    assert len(files) == 2, hits_dir

    expected = []
    for p in files:
        expected.extend(native_decode(p, classifier))
    rec_size = legacy_record_size(classifier)
    assert sum(os.path.getsize(p) for p in files) == rec_size * len(expected)

    df = read_legacy_bin(spark, hits_dir, classifier=classifier)
    rows = df.collect()
    assert len(rows) == len(expected)

    got = sorted(
        (r.qid, r.sid, r.ident, r.align_len, r.mismatches, r.gaps,
         r.qstart, r.qend, r.sstart, r.send, r.evalue, r.bitscore)
        + ((r.perc_ident, r.perc_cover) if classifier else ())
        for r in rows)
    assert got == sorted(expected)
    # the oracle decode gives back exactly what was packed
    assert sorted(expected) == sorted(
        (r[0], r[1].decode("ascii")) + r[2:] for r in recs)


def test_generic_fixture_values_are_plausible(spark, fixtures):
    """Engine-shaped hits obey the record's own invariants — catches
    a wrong-offset decode that still happens to parse (field shear)."""
    df = read_legacy_bin(spark, fixtures[False][0], classifier=False)
    bad = df.filter(
        ~((F.col("ident") > 0) & (F.col("ident") <= 100.0)
          & (F.col("align_len") > 0)
          & (F.col("qend") >= F.col("qstart"))
          & (F.col("evalue") >= 0) & (F.col("evalue") <= 10.0)
          & (F.col("bitscore") > 0)
          & (F.col("mismatches") <= F.col("align_len"))
          & (F.col("gaps") <= F.col("align_len")))).count()
    assert bad == 0
    # the classifier-only columns must be absent (NULL) in generic mode
    assert df.filter(F.col("perc_ident").isNotNull()).count() == 0


@pytest.mark.parametrize("classifier", [False, True])
def test_defline_sidecar_covers_all_qids(spark, fixtures, classifier):
    """J3: every qid in the hit files resolves in the .def sidecar next
    to them (load_csv.py:133-139 raises on a miss; attach_deflines
    keeps the row with null qdef — here there must be no nulls at
    all)."""
    from mr_mpi_blast_spark.plans.pipeline import attach_deflines
    hits_dir, def_path, _recs = fixtures[classifier]
    deflines = load_def(def_path)
    hits = read_legacy_bin(spark, hits_dir, classifier=classifier)
    d = spark.createDataFrame(
        [(k, v) for k, v in deflines.items()], "qid long, defline string")
    merged = attach_deflines(hits, d)
    assert merged.filter(F.col("qdef").isNull()).count() == 0
    # spot-check one known mapping from the sidecar text itself
    some = merged.select("qid", "qdef").first()
    assert deflines[some.qid] == some.qdef


def test_classifier_perc_fields_populated(spark, fixtures):
    df = read_legacy_bin(spark, fixtures[True][0], classifier=True)
    n = df.count()
    assert df.filter(F.col("perc_ident").isNotNull()
                     & F.col("perc_cover").isNotNull()).count() == n
    assert df.filter((F.col("perc_cover") < 0)
                     | (F.col("perc_cover") > 100.0)).count() == 0
