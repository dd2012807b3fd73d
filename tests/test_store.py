"""The catalog's artifact store (entry_queries._src_key / _store_path /
_publish / _point_link): one freshness rule, one scratch root, one
atomic publish and one symlink repoint for every build-once artifact."""

import os

import pytest

from mr_mpi_blast_spark import entry_queries as EQ


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    root = tmp_path / "scratch"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(root))
    return root


@pytest.fixture
def sf(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "documents.parquet").write_bytes(b"x" * 10)
    return d


def test_src_key_changes_with_mtime_and_size(sf):
    src = sf / "documents.parquet"
    k0 = EQ._src_key(str(sf), "documents", "t")
    assert EQ._src_key(str(sf), "documents", "t") == k0
    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    k1 = EQ._src_key(str(sf), "documents", "t")
    assert k1 != k0
    # size changes with the mtime pinned: the key still changes
    mtime = src.stat().st_mtime_ns
    src.write_bytes(b"x" * 11)
    os.utime(src, ns=(st.st_atime_ns, mtime))
    assert EQ._src_key(str(sf), "documents", "t") not in (k0, k1)


def test_tags_and_params_never_share_a_path(sf, scratch):
    keys = [EQ._src_key(str(sf), "documents", "a"),
            EQ._src_key(str(sf), "documents", "b"),
            EQ._src_key(str(sf), "documents", "a", 1),
            EQ._src_key(str(sf), "documents", "a", 2),
            EQ._src_key(str(sf), "documents", "a", 1, 2)]
    paths = {EQ._store_path(k) for k in keys}
    assert len(paths) == len(keys)
    assert EQ._store_path(keys[0], "_cc1") != EQ._store_path(keys[0])


def test_every_path_lands_under_scratch(sf, scratch):
    root = str(scratch) + os.sep
    assert EQ._store_path("k").startswith(root)
    assert EQ._store_path("k", ".json").startswith(root)
    assert EQ._blast_raw_path(str(sf)).startswith(root)
    p = EQ._publish(EQ._store_path(EQ._src_key(str(sf), "documents", "t"),
                                   ".json"),
                    lambda tmp: open(tmp, "w").close())
    assert p.startswith(root) and os.path.isfile(p)
    assert os.listdir(os.path.dirname(p)) == [os.path.basename(p)]


def _dir_writer(calls):
    def write(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-0"), "w").close()
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
    return write


def test_torn_dir_is_rebuilt(scratch):
    path = EQ._store_path("torn")
    os.makedirs(path)
    open(os.path.join(path, "part-stale"), "w").close()   # no _SUCCESS
    calls = []
    assert EQ._publish(path, _dir_writer(calls)) == path
    assert len(calls) == 1
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-0"]


def test_complete_artifact_is_not_rebuilt(scratch):
    calls = []
    d = EQ._publish(EQ._store_path("dir"), _dir_writer(calls))
    assert EQ._publish(d, _dir_writer(calls)) == d
    assert len(calls) == 1

    def never(tmp):
        raise AssertionError("complete artifact rebuilt")
    f = EQ._publish(EQ._store_path("file", ".json"),
                    lambda tmp: open(tmp, "w").write("{}"))
    assert EQ._publish(f, never) == f
    assert EQ._publish(d, never) == d


def test_failed_write_publishes_nothing(scratch):
    path = EQ._store_path("boom")

    def boom(tmp):
        raise RuntimeError("build failed")
    with pytest.raises(RuntimeError):
        EQ._publish(path, boom)
    assert not os.path.exists(path)


def test_rename_lost_to_complete_concurrent_publish(scratch):
    """A concurrent publisher lands the same artifact while this one
    is writing: the losing rename counts as success and its temp is
    removed."""
    path = EQ._store_path("race")

    def write(tmp):
        _dir_writer([])(path)          # the other process wins
        _dir_writer([])(tmp)
    assert EQ._publish(path, write) == path
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]


def test_point_link_replaces_link_dir_and_file(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    link = str(tmp_path / "current.parquet")
    EQ._point_link(link, str(a))
    assert os.readlink(link) == str(a)
    EQ._point_link(link, str(b))                 # existing link
    assert os.readlink(link) == str(b)
    os.unlink(link)
    os.makedirs(os.path.join(link, "sub"))       # real dir, older layout
    EQ._point_link(link, str(a))
    assert os.path.islink(link) and os.readlink(link) == str(a)
    os.unlink(link)
    open(link, "w").close()                      # real file
    EQ._point_link(link, str(b))
    assert os.path.islink(link) and os.readlink(link) == str(b)
    assert sorted(os.listdir(tmp_path)) == ["a", "b", "current.parquet"]


def test_oracle_links_resolve_under_the_import_scratch_root(tmp_path):
    """The four oracle links are resolved at import under
    $SPARK_GRAFT_SCRATCH, and the static oracle SQL reads the resolved
    path: two processes with different scratch roots get disjoint
    links, so neither repoints what the other checks against."""
    import json
    import subprocess
    import sys

    code = ("import json; from mr_mpi_blast_spark import entry_queries as e; "
            "print(json.dumps([[e._BLAST_RAW_PATH, e._BLAST_RAW_GAPPED_PATH, "
            "e._BLAST_RAW_NUCL_PATH, e._IVF_CENT_PATH], "
            "e.ORACLES['blast_pipeline'], e.ORACLES['ann_ivf_recall']]))")
    got = {}
    for root in ("a", "b"):
        scratch = str(tmp_path / root)
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
        out = subprocess.run([sys.executable, "-c", code], env=env,
                             check=True, capture_output=True, text=True,
                             cwd=os.path.dirname(os.path.dirname(
                                 os.path.abspath(__file__))))
        links, flagship_sql, ivf_sql = json.loads(out.stdout.splitlines()[-1])
        assert len(set(links)) == 4
        assert all(os.path.dirname(p) == scratch for p in links), links
        assert links[0] in flagship_sql and links[3] in ivf_sql
        got[root] = set(links)
    assert not got["a"] & got["b"]
