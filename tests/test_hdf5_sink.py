"""W4 HDF5 sink: the built-in classic-format writer round-trips through
an independently-implemented spec reader, carrying legacy hit files
(tests the whole chain .bin -> HITS -> .hd5).

The hit files are built here byte by byte with ``struct.pack`` in the
reference's native record layout ``L40sdIIIIIIIdd`` (+``dd`` for the
classifier; mrblast.hpp:298-313, the converters' load_csv.py:107-109),
never by the writer under test, and their bytes are pinned by golden
md5s — so the fixture cannot drift silently with the code it checks.

The reader (sinks/hdf5_minimal.read_compound_hdf5) shares no layout
constants with the writer — it walks superblock -> root symbol table ->
B-tree/SNOD/heap -> object header messages per the public HDF5 spec, so
a structural mistake in either side fails the round-trip.
"""

import hashlib
import os
import struct

import numpy as np
import pytest

from mr_mpi_blast_spark.sinks.hdf5_minimal import read_compound_hdf5
from mr_mpi_blast_spark.sinks.legacy_bin import read_legacy_bin
from mr_mpi_blast_spark.sinks.writers import write_hdf5

GENERIC = struct.Struct("L40sdIIIIIIIdd")
CLASSIFIER = struct.Struct("L40sdIIIIIIIdddd")
# md5 of every fixture file's bytes, in file order
GOLDEN_MD5 = {False: "18213c313059cc3df71da86864f2932c",
              True: "a6ff46fa034bf374381bd0cadaabc64d"}


def _records(classifier: bool) -> list[tuple]:
    """Deterministic hit records with the shapes real hit files hold:
    several HSPs per query, a qid above 2^32, subject ids from short
    to exactly 40 bytes (no NUL terminator, mrblast.cpp:1072), tiny
    and zero e-values, fractional bitscores."""
    out = []
    for i in range(41):
        qid = 1 + i // 4 + (1 << 33 if i == 40 else 0)
        sid = f"gi|{1000 + 7 * i}|ref|NM_{13 * i:06d}.{i % 3}|"
        if i % 10 == 9:
            sid = (sid + "x" * 40)[:40]
        rec = (qid, sid.encode("ascii"),
               100.0 - (i * 7 % 23) * 1.37,           # ident
               50 + 3 * i, i % 7, i % 3,              # len, mism, gaps
               1 + i, 60 + 3 * i, 500 - i, 440 - 2 * i,
               0.0 if i == 5 else 1.7 * 10.0 ** -(i * 9 % 180),
               20.5 + 3.25 * i)
        if classifier:
            rec += (i % 11 / 11.0 * 100.0, 100.0 - i * 0.5)
        out.append(rec)
    return out


def _as_hits(rec: tuple) -> tuple:
    """A packed record as the legacy decode must see it: sid cut at its
    first NUL (none when it fills all 40 bytes)."""
    return (rec[0], rec[1].decode("ascii")) + rec[2:]


@pytest.fixture(scope="module")
def hit_files(tmp_path_factory):
    """{classifier: (hits dir, records)} — each set split over three
    files, like one output file per reducer."""
    out = {}
    for classifier in (False, True):
        st = CLASSIFIER if classifier else GENERIC
        recs = _records(classifier)
        d = tmp_path_factory.mktemp("classifier" if classifier else "generic")
        blob = b""
        for part in range(3):
            data = b"".join(st.pack(*r) for r in recs[part::3])
            (d / f"output-hits-0-{part:07d}.txt.bin").write_bytes(data)
            blob += data
        assert hashlib.md5(blob).hexdigest() == GOLDEN_MD5[classifier]
        out[classifier] = (str(d), recs)
    return out


def test_fixture_layout():
    """The native layout the reference writes: 104-byte generic and
    120-byte classifier records on LP64."""
    assert (GENERIC.size, CLASSIFIER.size) == (104, 120)


@pytest.fixture(scope="module")
def golden_hits(spark, hit_files):
    return read_legacy_bin(spark, hit_files[False][0],
                           classifier=False).cache()


def test_hdf5_roundtrip_golden(spark, golden_hits, hit_files, tmp_path):
    path = str(tmp_path / "hits.hd5")
    n = write_hdf5(golden_hits, path)
    rec = read_compound_hdf5(path, "blhits/blhitstab")
    want = sorted(map(_as_hits, hit_files[False][1]))
    assert len(rec) == n == golden_hits.count() == len(want)

    got = sorted((int(x["qId"]), x["sId"].decode(), float(x["dIdent"]),
                  int(x["alignLen"]), int(x["nMismatches"]), int(x["nGaps"]),
                  int(x["qStart"]), int(x["qEnd"]), int(x["sStart"]),
                  int(x["sEnd"]), float(x["eValue"]), float(x["bitScore"]))
                 for x in rec)
    assert got == want                      # doubles bit-exact through f8


def test_hdf5_classifier_layout(spark, hit_files, tmp_path):
    hits_dir, recs = hit_files[True]
    df = read_legacy_bin(spark, hits_dir, classifier=True)
    path = str(tmp_path / "chits.hd5")
    n = write_hdf5(df, path, classifier=True)
    rec = read_compound_hdf5(path, "blhits/blhitstab")
    assert len(rec) == n == len(recs)
    assert "percIdent" in rec.dtype.names and "percCover" in rec.dtype.names
    want = sorted((r[0], round(r[12], 9), round(r[13], 9)) for r in recs)
    got = sorted((int(x["qId"]), round(float(x["percIdent"]), 9),
                  round(float(x["percCover"]), 9)) for x in rec)
    assert got == want


def test_hdf5_file_structure(spark, golden_hits, tmp_path):
    """Spot-check spec invariants a foreign reader depends on: magic,
    superblock v0, EOF address == file size, record size matches the
    PyTables description (164 bytes generic)."""
    path = str(tmp_path / "s.hd5")
    n = write_hdf5(golden_hits, path)
    with open(path, "rb") as f:
        b = f.read()
    assert b[:8] == b"\x89HDF\r\n\x1a\n"
    assert b[8] == 0
    eof = struct.unpack_from("<Q", b, 40)[0]
    assert eof == len(b) == os.path.getsize(path)
    rec = read_compound_hdf5(path, "blhits/blhitstab")
    assert rec.dtype.itemsize == 8 + 40 + 40 + 8 + 7 * 4 + 8 + 8
    assert len(rec) == n


def test_hdf5_null_fields_coalesced(spark, hit_files, tmp_path):
    """Generic hits have NULL qdef/perc columns; classifier export must
    encode them as ''/0.0, not crash (same contract as the .bin
    writer)."""
    hits = read_legacy_bin(spark, hit_files[False][0], classifier=False)
    path = str(tmp_path / "n.hd5")
    n = write_hdf5(hits, path, classifier=True)
    rec = read_compound_hdf5(path, "blhits/blhitstab")
    assert len(rec) == n == len(hit_files[False][1])
    assert np.all(rec["percIdent"] == 0.0)
    assert all(x == b"" for x in rec["qIdDef"])
