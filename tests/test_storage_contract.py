"""Storage contract suite, parameterized over THREE backends — the port of
the reference's StorageOpsTests.java:32-184 + TestS3StorageOlympiaTests:
local O_EXCL, the in-repo fake S3 client, and (when moto is importable)
real boto3 against a moto-mocked S3 — the latter executes the actual
botocore request path including the IfNoneMatch='*' conditional put. The
central assertion is the atomic put-if-absent seal: exactly one concurrent
creator of a path wins (docs/format.md:218-246)."""

from __future__ import annotations

import os
import threading

import pytest

from olympia_spark.catalog import Catalog
from olympia_spark.catalog.defs import CatalogDef
from olympia_spark.catalog.errors import (StorageAtomicSealFailureError,
                                          StorageFileOpenFailureError,
                                          StorageWriteFailureError)
from olympia_spark.catalog.storage import LocalStorage, S3Storage

from tests.fake_s3 import FakeS3Client

try:
    import boto3
    from moto import mock_aws
    _HAVE_MOTO = True
except ImportError:                      # pragma: no cover — env-dependent
    _HAVE_MOTO = False


@pytest.fixture(params=["local", "s3",
                        pytest.param("moto", marks=pytest.mark.skipif(
                            not _HAVE_MOTO, reason="moto not installed"))])
def storage(request, tmp_path):
    if request.param == "local":
        return LocalStorage(str(tmp_path / "wh"))
    if request.param == "s3":
        return S3Storage("bucket", "wh", client=FakeS3Client())
    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    os.environ.setdefault("AWS_DEFAULT_REGION", "us-east-1")
    m = mock_aws()
    m.start()
    request.addfinalizer(m.stop)
    client = boto3.client("s3", region_name="us-east-1")
    client.create_bucket(Bucket="bucket")
    return S3Storage("bucket", "wh", client=client)


def test_exists_read_write_roundtrip(storage):
    assert not storage.exists("a/b.txt")
    storage.write_atomic("a/b.txt", b"hello")
    assert storage.exists("a/b.txt")
    assert storage.read("a/b.txt") == b"hello"


def test_read_missing_raises(storage):
    with pytest.raises(StorageFileOpenFailureError):
        storage.read("nope/missing.txt")


def test_write_atomic_rejects_existing_key(storage):
    """The 412/O_EXCL seal: a second put-if-absent to the same path fails
    and the original content survives."""
    storage.write_atomic("vn/1.txt", b"first")
    with pytest.raises(StorageAtomicSealFailureError):
        storage.write_atomic("vn/1.txt", b"second")
    assert storage.read("vn/1.txt") == b"first"


def test_write_atomic_racing_writers_one_winner(storage):
    """N concurrent creators of one path: exactly one succeeds."""
    results = []

    def attempt(i: int) -> None:
        try:
            storage.write_atomic("race/key.txt", f"writer{i}".encode())
            results.append(i)
        except StorageAtomicSealFailureError:
            pass

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 1
    assert storage.read("race/key.txt") == f"writer{results[0]}".encode()


class _StagedWrite:
    """File wrapper for LocalStorage.write_atomic's staging write: records
    whether the final path is visible while the bytes are being written,
    and with ``fail`` writes half of them and raises."""

    def __init__(self, f, final, seen, fail):
        self._f, self._final, self._seen, self._fail = f, final, seen, fail

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()

    def write(self, data):
        self._seen.append(os.path.exists(self._final))
        if self._fail:
            self._f.write(data[:len(data) // 2])
            self._f.flush()
            raise OSError("disk full")
        return self._f.write(data)


@pytest.mark.parametrize("fail", [False, True])
def test_local_write_atomic_never_shows_a_partial_file(tmp_path,
                                                       monkeypatch, fail):
    """The sealed path appears only once all of its bytes are written: a
    reader never finds an empty or partial root, and a write that fails
    partway leaves no file (nor its staging file) behind."""
    from olympia_spark.catalog import storage as st
    s = LocalStorage(str(tmp_path / "wh"))
    final = os.path.join(s.root, "vn", "00000001")
    seen: list[bool] = []
    real_open = open
    monkeypatch.setattr(
        st, "open", lambda *a, **kw: _StagedWrite(real_open(*a, **kw),
                                                  final, seen, fail),
        raising=False)
    if fail:
        with pytest.raises(StorageWriteFailureError):
            s.write_atomic("vn/00000001", b"x" * 100)
    else:
        s.write_atomic("vn/00000001", b"x" * 100)
    monkeypatch.undo()
    assert seen == [False]
    assert os.listdir(os.path.dirname(final)) == ([] if fail
                                                  else ["00000001"])
    if fail:
        s.write_atomic("vn/00000001", b"x" * 100)
    # a lost seal still raises, and leaves the winner's bytes alone
    with pytest.raises(StorageAtomicSealFailureError):
        s.write_atomic("vn/00000001", b"other")
    assert s.read("vn/00000001") == b"x" * 100
    assert os.listdir(os.path.dirname(final)) == ["00000001"]


def test_overwrite_replaces(storage):
    storage.write_atomic("h/hint.txt", b"1")
    storage.overwrite("h/hint.txt", b"2")
    assert storage.read("h/hint.txt") == b"2"
    storage.overwrite("h/new.txt", b"3")    # overwrite may also create
    assert storage.read("h/new.txt") == b"3"


def test_delete_and_idempotent_delete(storage):
    storage.write_atomic("d/x.txt", b"x")
    storage.delete("d/x.txt")
    assert not storage.exists("d/x.txt")
    storage.delete("d/x.txt")               # deleting a missing path is ok


def test_list_prefix(storage):
    for name in ("p/a.txt", "p/b.txt", "p/c.txt"):
        storage.write_atomic(name, b".")
    listed = sorted(storage.list("p/"))
    assert listed == ["p/a.txt", "p/b.txt", "p/c.txt"]
    assert list(storage.list("p/zzz")) == []


def test_catalog_full_lifecycle_on_both_backends(storage):
    """The catalog plane end-to-end over the storage contract only:
    create → namespaces/tables → CAS commit → reload → time travel."""
    cat = Catalog.create(storage, CatalogDef())
    txn = cat.begin()
    cat.create_namespace(txn, "ns1", {"k1": "v1"})
    cat.commit(txn)
    txn = cat.begin()
    from olympia_spark.catalog.defs import TableDef
    cat.create_table(txn, "ns1", "tbl1", TableDef())
    cat.commit(txn)
    reloaded = Catalog.load(storage)
    txn = reloaded.begin()
    assert reloaded.namespace_exists(txn, "ns1")
    assert reloaded.table_exists(txn, "ns1", "tbl1")
    assert reloaded.show_tables(txn, "ns1") == ["tbl1"]
    # version chain: v0 create, v1 ns, v2 table (OlympiaTests.java:370-379)
    assert reloaded.tree.find_latest_version() == 2
    txn1 = reloaded.at_version(1)           # read-only snapshot txn (A27)
    assert not reloaded.table_exists(txn1, "ns1", "tbl1")


def test_catalog_racing_commits_one_winner_per_version(storage):
    """Two transactions from the same beginning root: non-conflicting ops
    both land (one via CAS retry) — FIXTURES.md §1 concurrency fixture."""
    from olympia_spark.catalog.defs import TableDef
    cat = Catalog.create(storage, CatalogDef())
    txn = cat.begin()
    cat.create_namespace(txn, "ns1", {})
    cat.commit(txn)
    t_a = cat.begin()
    t_b = cat.begin()
    cat.create_table(t_a, "ns1", "tA", TableDef())
    cat.create_table(t_b, "ns1", "tB", TableDef())
    cat.commit(t_a)
    cat.commit(t_b)                         # retries behind tA's CAS win
    txn = cat.begin()
    assert sorted(cat.show_tables(txn, "ns1")) == ["tA", "tB"]


def test_overwrite_evicts_read_cache(storage):
    """Round-6 review: def/dtxn handles are OVERWRITTEN in place — a
    cached copy must never serve stale bytes after an overwrite."""
    if not isinstance(storage, S3Storage):
        pytest.skip("cache layer is S3-only")
    # uuid-unique paths: the cache persists in /tmp across test runs
    # (real catalog def/node paths are always uuid-unique too)
    import uuid as _u
    path = f"def/table/cachetest-{_u.uuid4().hex}.json"
    storage.write_atomic(path, b"v1")
    assert storage.read_cached(path) == b"v1"
    storage.overwrite(path, b"v2")
    assert storage.read_cached(path) == b"v2"
    # dtxn paths are excluded from caching entirely (mutable by design)
    dt = f"def/dtxn/t1-{_u.uuid4().hex}.json"
    storage.write_atomic(dt, b"a")
    storage.read_cached(dt)
    storage.overwrite(dt, b"b")
    assert storage.read_cached(dt) == b"b"


def test_cache_dir_keyed_by_endpoint_and_uid():
    """Round-6 review: same bucket/prefix on two DIFFERENT endpoints
    (prod vs MinIO/moto) must not share cached bytes; the cache root is
    per-uid and 0700."""
    import os as _os

    class _FakeMeta:
        def __init__(self, url):
            self.endpoint_url = url

    class _C(FakeS3Client):
        def __init__(self, url):
            super().__init__()
            self.meta = _FakeMeta(url)

    a = S3Storage("bucket", "wh", client=_C("https://s3.amazonaws.com"))
    b = S3Storage("bucket", "wh", client=_C("http://localhost:9000"))
    assert a.cache_dir != b.cache_dir
    base = _os.path.dirname(a.cache_dir)
    assert str(_os.getuid()) in _os.path.basename(base)
    assert _os.stat(base).st_mode & 0o777 == 0o700
