"""In-memory fake of the boto3 S3 client surface S3Storage uses.

Replicates the exact semantics the catalog's consistency model rests on:
``PutObject`` with ``IfNoneMatch='*'`` fails with HTTP 412 iff the key
already exists, atomically under concurrency (reference
s3/.../S3AtomicOutputStream.java:42-47, MinioTestUtil.java test harness).
The contract suite runs against this fake AND (when moto is importable)
real boto3 under moto's mock — the fake keeps the suite dependency-free
and lock-step-debuggable; the moto param executes the actual botocore
request path.
"""

from __future__ import annotations

import io
import threading


class FakeClientError(Exception):
    def __init__(self, status: int, message: str = ""):
        super().__init__(message or f"HTTP {status}")
        self.response = {"ResponseMetadata": {"HTTPStatusCode": status},
                         "Error": {"Code": str(status)}}


class FakeNoSuchKey(FakeClientError):
    def __init__(self, key: str):
        super().__init__(404, f"NoSuchKey: {key}")


class _Exceptions:
    ClientError = FakeClientError
    NoSuchKey = FakeNoSuchKey


class _Paginator:
    def __init__(self, objects: dict, lock: threading.Lock):
        self._objects = objects
        self._lock = lock

    def paginate(self, Bucket: str, Prefix: str = ""):
        with self._lock:
            keys = sorted(k for k in self._objects if k.startswith(Prefix))
        # one page per 2 keys to exercise the pagination loop
        for i in range(0, len(keys), 2):
            yield {"Contents": [{"Key": k} for k in keys[i:i + 2]]}
        if not keys:
            yield {}


class FakeS3Client:
    """Only the operations S3Storage calls; one bucket namespace."""

    exceptions = _Exceptions

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def put_object(self, Bucket: str, Key: str, Body: bytes,
                   IfNoneMatch: str | None = None, **_kw):
        if isinstance(Body, str):
            Body = Body.encode()
        with self._lock:
            if IfNoneMatch == "*" and Key in self._objects:
                raise FakeClientError(412, "PreconditionFailed")
            self._objects[Key] = bytes(Body)
        return {"ResponseMetadata": {"HTTPStatusCode": 200}}

    def get_object(self, Bucket: str, Key: str, Range: str | None = None):
        with self._lock:
            if Key not in self._objects:
                raise FakeNoSuchKey(Key)
            data = self._objects[Key]
        if Range is not None:              # "bytes=lo-hi", both inclusive
            lo, hi = map(int, Range.removeprefix("bytes=").split("-"))
            data = data[lo:hi + 1]
        return {"Body": io.BytesIO(data)}

    def head_object(self, Bucket: str, Key: str):
        with self._lock:
            if Key not in self._objects:
                raise FakeClientError(404, "NotFound")
            return {"ContentLength": len(self._objects[Key])}

    def delete_object(self, Bucket: str, Key: str):
        with self._lock:
            self._objects.pop(Key, None)
        return {"ResponseMetadata": {"HTTPStatusCode": 204}}

    def get_paginator(self, name: str):
        assert name == "list_objects_v2"
        return _Paginator(self._objects, self._lock)
