"""Storage kernel: basic ops + the atomic put-if-absent primitive.

The entire consistency model of the catalog rests on ONE storage feature:
mutual exclusion of file creation (reference docs/format.md:218-246 —
"only one writer wins if there are multiple writers trying to write to the
same new file"). Everything else is plain read/write/delete/list.

Reference surfaces re-expressed here:

* ``StorageOps`` contract (exists/read/write/overwrite/delete/list) —
  reference storage/StorageOps.java:24-45, CatalogStorage.java:29-73.
* Local put-if-absent via a staging file sealed with ``os.link`` — the
  semantic of reference storage/local/LocalAtomicStagingOutputStream.java
  (staging file + atomic rename). The data is written in full first and
  the link publishes it atomically, failing if the path exists; an
  O_EXCL create alone would let a reader see the file before (or without)
  its bytes.
* S3 put-if-absent via ``PutObject`` + ``IfNoneMatch='*'`` — reference
  s3/.../S3AtomicOutputStream.java:42-47.

All paths are catalog-relative ("vn/...", "node/...", "def/..."); the
storage owns the root prefix.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid as _uuid
from abc import ABC, abstractmethod
from collections.abc import Iterator

from olympia_spark.catalog.errors import (StorageAtomicSealFailureError,
                                          StorageFileOpenFailureError,
                                          StorageWriteFailureError)

# path prefixes whose objects are IMMUTABLE once written (content lives at
# a unique uuid/version path, only ever deleted, never rewritten) — the
# set read_cached may serve from a local cache. vn/ roots are immutable
# too but are excluded: expire_versions deletes them and a cache hit on
# an expired root would resurrect a version the guards already refused.
# def/dtxn is excluded: save_dist_transaction OVERWRITES the handle in
# place as the transaction accumulates actions.
_IMMUTABLE_PREFIXES = ("node/", "def/catalog/", "def/ns/", "def/table/",
                       "def/view/")


class Storage(ABC):
    """Minimal storage contract the catalog needs (A33/A34)."""

    root: str

    @abstractmethod
    def exists(self, path: str) -> bool: ...

    @abstractmethod
    def read(self, path: str) -> bytes:
        """Read the whole file; raise StorageFileOpenFailureError on 404."""

    @abstractmethod
    def write_atomic(self, path: str, data: bytes) -> None:
        """Put-if-absent: create the file iff it does not exist, atomically.
        Raise StorageAtomicSealFailureError if another writer won."""

    @abstractmethod
    def overwrite(self, path: str, data: bytes) -> None:
        """Unconditional write (used only for best-effort hint files)."""

    @abstractmethod
    def delete(self, path: str) -> None: ...

    @abstractmethod
    def list(self, prefix: str) -> Iterator[str]:
        """Yield paths (relative) sharing the prefix."""

    # --- data-plane helpers (default pass-throughs) -------------------------

    def read_cached(self, path: str) -> bytes:
        """Read an IMMUTABLE object, possibly via a local cache (reference
        S3StorageOps.java:110-117 prepareToReadLocal — tree nodes are
        downloaded to local temp before random-access reads). Mutable
        paths (version hints) must use plain :meth:`read`."""
        return self.read(path)

    def get_to_file(self, path: str, local_path: str) -> None:
        """Download one object to a local file (atomic: temp + rename)."""
        data = self.read(path)
        os.makedirs(os.path.dirname(local_path), exist_ok=True)
        tmp = f"{local_path}.{_uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, local_path)

    def put_from_file(self, path: str, local_path: str) -> None:
        """Upload one local file to an object (plain put — data file paths
        are uuid-unique so no seal is needed; reference
        S3AtomicOutputStream.java writes local then uploads on close)."""
        with open(local_path, "rb") as f:
            self.overwrite(path, f.read())

    def delete_many(self, paths: list[str]) -> None:
        """Delete a batch of objects. Base implementation loops; object
        stores override with their bulk verb (S3 ``DeleteObjects`` takes
        1000 keys per request) so maintenance over millions of orphans
        costs thousands of round-trips, not millions."""
        for p in paths:
            self.delete(p)

    def size(self, path: str) -> int:
        """Object size in bytes (for ranged footer reads)."""
        return len(self.read(path))

    def open_ranged(self, path: str):
        """A seekable read-only file-like over one object. The base
        implementation materializes the bytes; object stores override
        with ranged GETs so a parquet FOOTER read fetches ~KBs of a
        multi-GB object instead of the whole file."""
        import io
        return io.BytesIO(self.read(path))


class LocalStorage(Storage):
    """Local-filesystem storage. ``os.link`` of a staged file is the
    atomic seal."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    def _abs(self, path: str) -> str:
        return os.path.join(self.root, path)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._abs(path))

    def read(self, path: str) -> bytes:
        try:
            with open(self._abs(path), "rb") as f:
                return f.read()
        except FileNotFoundError as e:
            raise StorageFileOpenFailureError(path) from e

    def write_atomic(self, path: str, data: bytes) -> None:
        full = self._abs(path)
        directory = os.path.dirname(full)
        os.makedirs(directory, exist_ok=True)
        # stage the whole payload under a private name, then link it into
        # place: link(2) fails with EEXIST if the path exists, so exactly
        # one concurrent creator succeeds, and a reader sees either no
        # file or all of its bytes, never an empty or partial one
        fd, tmp = tempfile.mkstemp(
            dir=directory, prefix=f".{os.path.basename(full)}.",
            suffix=".tmp")
        try:
            with open(fd, "wb") as f:
                f.write(data)
            os.link(tmp, full)
        except FileExistsError as e:
            raise StorageAtomicSealFailureError(path) from e
        except OSError as e:
            raise StorageWriteFailureError(path) from e
        finally:
            os.unlink(tmp)

    def overwrite(self, path: str, data: bytes) -> None:
        full = self._abs(path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        tmp = full + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, full)

    def delete(self, path: str) -> None:
        try:
            os.remove(self._abs(path))
        except FileNotFoundError:
            pass

    def list(self, prefix: str) -> Iterator[str]:
        base = self._abs(prefix)
        directory = base if os.path.isdir(base) else os.path.dirname(base)
        if not os.path.isdir(directory):
            return
        for name in sorted(os.listdir(directory)):
            rel = os.path.relpath(os.path.join(directory, name), self.root)
            if rel.startswith(prefix):
                yield rel


class S3Storage(Storage):
    """S3 storage via boto3 (gated import — boto3 isn't in this container).

    The atomic seal is ``PutObject(..., IfNoneMatch='*')``: S3 rejects the
    put with HTTP 412 if the key already exists, which is exactly the
    one-winner semantic (reference S3AtomicOutputStream.java:42-47).
    """

    def __init__(self, bucket: str, prefix: str, client=None,
                 cache_dir: str | None = None):
        if client is None:
            try:
                import boto3  # noqa: PLC0415 — optional dependency
            except ImportError as e:  # pragma: no cover - env-dependent
                raise ImportError("S3Storage requires boto3") from e
            client = boto3.client("s3")
        self._s3 = client
        self.bucket = bucket
        self.root = prefix.strip("/")
        # read-local cache for immutable objects (node/def files) —
        # reference S3StorageOps.prepareToReadLocal. Keyed by
        # (endpoint, bucket, prefix) so two catalogs on one box — or the
        # same bucket name on two DIFFERENT endpoints (prod vs MinIO) —
        # never share entries; rooted in a per-uid 0700 directory so
        # another local user can neither read nor pre-plant cached
        # bytes; safe across processes of the same user because cached
        # paths are immutable and files appear atomically (temp+rename).
        endpoint = str(getattr(getattr(client, "meta", None),
                               "endpoint_url", ""))
        digest = hashlib.sha1(
            f"{endpoint}|s3://{bucket}/{self.root}".encode()
        ).hexdigest()[:16]
        if cache_dir is None:
            base = os.path.join(tempfile.gettempdir(),
                                f"olympia-spark-s3cache-{os.getuid()}")
            try:
                os.makedirs(base, mode=0o700, exist_ok=True)
                os.chmod(base, 0o700)
                if os.stat(base).st_uid != os.getuid():
                    raise PermissionError(base)
            except PermissionError:
                # another user squatted the per-uid path (sticky /tmp
                # prevents removal) — fall back to a private mkdtemp
                # rather than failing construction or trusting the
                # squatter's directory
                base = tempfile.mkdtemp(prefix="olympia-spark-s3cache-")
            cache_dir = os.path.join(base, digest)
        self.cache_dir = cache_dir

    def local_cache_path(self, path: str) -> str:
        return os.path.join(self.cache_dir, path)

    def read_cached(self, path: str) -> bytes:
        if not path.startswith(_IMMUTABLE_PREFIXES):
            return self.read(path)
        local = self.local_cache_path(path)
        if not os.path.exists(local):
            self.get_to_file(path, local)
        with open(local, "rb") as f:
            return f.read()

    def _key(self, path: str) -> str:
        return f"{self.root}/{path}" if self.root else path

    def exists(self, path: str) -> bool:
        try:
            self._s3.head_object(Bucket=self.bucket, Key=self._key(path))
            return True
        except self._s3.exceptions.ClientError:
            return False

    def read(self, path: str) -> bytes:
        try:
            resp = self._s3.get_object(Bucket=self.bucket, Key=self._key(path))
            return resp["Body"].read()
        except self._s3.exceptions.NoSuchKey as e:
            raise StorageFileOpenFailureError(path) from e

    def write_atomic(self, path: str, data: bytes) -> None:
        try:
            self._s3.put_object(Bucket=self.bucket, Key=self._key(path),
                                Body=data, IfNoneMatch="*")
        except self._s3.exceptions.ClientError as e:
            code = e.response.get("ResponseMetadata", {}).get("HTTPStatusCode")
            if code == 412:  # precondition failed — another writer won
                raise StorageAtomicSealFailureError(path) from e
            raise StorageWriteFailureError(path) from e

    def overwrite(self, path: str, data: bytes) -> None:
        self._s3.put_object(Bucket=self.bucket, Key=self._key(path), Body=data)
        self._evict(path)        # a mutable path must never serve stale

    def delete(self, path: str) -> None:
        self._s3.delete_object(Bucket=self.bucket, Key=self._key(path))
        self._evict(path)        # drop any read-local cache copy with it

    def delete_many(self, paths: list[str]) -> None:
        """Bulk delete via S3 ``DeleteObjects`` — 1000 keys per request
        (the API maximum), one round-trip per batch instead of one per
        object. Clients without the bulk verb (the in-repo fake) fall
        back to the per-object loop."""
        if not hasattr(self._s3, "delete_objects"):
            return super().delete_many(paths)
        for i in range(0, len(paths), 1000):
            batch = paths[i:i + 1000]
            resp = self._s3.delete_objects(
                Bucket=self.bucket,
                Delete={"Objects": [{"Key": self._key(p)} for p in batch],
                        "Quiet": True})
            # Quiet mode suppresses per-key SUCCESS entries but still
            # returns failures in Errors (deny policy, object lock);
            # boto3 does NOT raise on them — a silent pass here would
            # report objects deleted that still exist.
            errors = resp.get("Errors") or []
            failed = {err.get("Key") for err in errors}
            for p in batch:
                if self._key(p) not in failed:
                    self._evict(p)
            if errors:
                first = errors[0]
                raise StorageWriteFailureError(
                    f"bulk delete: {len(errors)}/{len(batch)} keys failed "
                    f"(first: {first.get('Key')!r} {first.get('Code')} "
                    f"{first.get('Message')})")

    def size(self, path: str) -> int:
        try:
            resp = self._s3.head_object(Bucket=self.bucket,
                                        Key=self._key(path))
            return int(resp["ContentLength"])
        except self._s3.exceptions.ClientError as e:
            # map ONLY not-found to the open-failure type (callers treat
            # it as deleted/expired — tree history walks stop on it); a
            # throttle or auth failure must stay a loud transport error
            code = str(e.response.get("Error", {}).get("Code", ""))
            if code in ("404", "NoSuchKey", "NotFound"):
                raise StorageFileOpenFailureError(path) from e
            raise

    def open_ranged(self, path: str):
        """Seekable file-like backed by ranged GETs — a parquet footer
        read (pyarrow seeks to EOF-8, reads the footer, then column-chunk
        statistics) fetches only the byte ranges it touches. This is the
        direct-lane stats read: the driver never downloads data pages."""
        return _S3RangedFile(self._s3, self.bucket, self._key(path),
                             self.size(path))

    def _evict(self, path: str) -> None:
        try:
            os.remove(self.local_cache_path(path))
        except OSError:
            pass

    def get_to_file(self, path: str, local_path: str) -> None:
        """Streaming download via boto3's managed transfer (multipart,
        chunked — never the whole object in driver memory); falls back
        to the bytes path for clients without it (the in-repo fake).
        Only a missing object maps to StorageFileOpenFailureError —
        transient S3 failures (throttling, credentials, network) must
        propagate loudly, since callers treat 'open failure' as
        'deleted/expired' (RESTORE guards, root-history walks)."""
        if not hasattr(self._s3, "download_file"):
            return super().get_to_file(path, local_path)
        os.makedirs(os.path.dirname(local_path), exist_ok=True)
        tmp = f"{local_path}.{_uuid.uuid4().hex}.tmp"
        try:
            self._s3.download_file(self.bucket, self._key(path), tmp)
        except Exception as e:
            try:
                os.remove(tmp)
            except OSError:
                pass
            code = str(getattr(e, "response", {})
                       .get("Error", {}).get("Code", ""))
            if code in ("404", "NoSuchKey", "NotFound"):
                raise StorageFileOpenFailureError(path) from e
            raise
        os.replace(tmp, local_path)

    def put_from_file(self, path: str, local_path: str) -> None:
        """Streaming upload (multipart for large files). No cache evict
        on EITHER branch: data-file paths are uuid-unique, and the
        engine's spool file IS the read cache for the bytes just
        uploaded (the base-class fallback would route through overwrite,
        whose evict deletes that spool)."""
        if not hasattr(self._s3, "upload_file"):
            with open(local_path, "rb") as f:
                self._s3.put_object(Bucket=self.bucket,
                                    Key=self._key(path), Body=f.read())
            return
        self._s3.upload_file(local_path, self.bucket, self._key(path))

    def list(self, prefix: str) -> Iterator[str]:
        paginator = self._s3.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=self.bucket,
                                       Prefix=self._key(prefix)):
            for obj in page.get("Contents", []):
                key = obj["Key"]
                yield key[len(self.root) + 1:] if self.root else key


class _S3RangedFile:
    """Minimal seekable read-only file over an S3 object via ranged GETs.

    Satisfies the file-object surface pyarrow's PythonFile wrapper needs
    (read/seek/tell/closed/readable/seekable/size). Every ``read`` is one
    ``GetObject`` with a ``Range`` header — no buffering beyond the
    caller's own read pattern, which for parquet metadata is a handful of
    small tail reads."""

    def __init__(self, client, bucket: str, key: str, size: int):
        self._s3 = client
        self._bucket = bucket
        self._key = key
        self._size = size
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            self._pos = self._size + offset
        else:
            raise ValueError(f"bad whence {whence}")
        return self._pos

    def read(self, nbytes: int = -1) -> bytes:
        if nbytes is None or nbytes < 0:
            nbytes = self._size - self._pos
        if nbytes <= 0 or self._pos >= self._size:
            return b""
        end = min(self._size, self._pos + nbytes) - 1
        resp = self._s3.get_object(Bucket=self._bucket, Key=self._key,
                                   Range=f"bytes={self._pos}-{end}")
        data = resp["Body"].read()
        self._pos += len(data)
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def close(self) -> None:
        self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def storage_for(location: str) -> Storage:
    """Factory: ``s3://bucket/prefix`` → S3Storage, else LocalStorage."""
    if location.startswith("s3://"):
        rest = location[5:]
        bucket, _, prefix = rest.partition("/")
        return S3Storage(bucket, prefix)
    if location.startswith("file://"):
        location = location[7:]
    return LocalStorage(location)
