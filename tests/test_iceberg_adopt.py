"""Iceberg metadata bridge: avro codec, adoption, export round-trip.

The reference's tables ARE Iceberg pointers (proto/objects.proto:58-69);
our parquet-native rebuild bridges both directions —
``Engine.adopt_iceberg_table`` ingests an existing Iceberg metadata tree
(spec-parsed, no Iceberg library) and ``Engine.export_iceberg_table``
publishes a native table as Iceberg v2 metadata. Fixtures are built with
the package's own spec-faithful writer; the avro layer itself is pinned
to the public Avro spec's golden bytes in test_hash-independent units.
"""

from __future__ import annotations

import io
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from olympia_spark.catalog import avro_io
from olympia_spark.catalog import iceberg as il
from olympia_spark.engine import Engine

# --- avro unit layer --------------------------------------------------------


def test_varint_zigzag_spec_golden_bytes():
    # table straight from the Avro specification "Binary Encoding"
    for val, expect in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                       (-2, b"\x03"), (2, b"\x04"), (-64, b"\x7f"),
                       (64, b"\x80\x01")]:
        buf = io.BytesIO()
        avro_io.write_long(buf, val)
        assert buf.getvalue() == expect
        assert avro_io.read_long(io.BytesIO(expect)) == val


def test_ocf_round_trip_all_types():
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "boolean"},
        {"name": "s", "type": "string"},
        {"name": "o", "type": ["null", "double"]},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "nested", "type": {"type": "record", "name": "n",
                                    "fields": [{"name": "x",
                                                "type": "bytes"}]}},
        {"name": "again", "type": "n"},          # named-type reference
        {"name": "fx", "type": {"type": "fixed", "name": "f16",
                                "size": 4}},
    ]}
    recs = [
        {"a": -(1 << 62), "b": True, "s": "héllo", "o": None,
         "arr": [1, -2, 3], "m": {"k": "v", "k2": ""},
         "nested": {"x": b"\x00\x01"}, "again": {"x": b"zz"},
         "fx": b"\xde\xad\xbe\xef"},
        {"a": 0, "b": False, "s": "", "o": 2.5, "arr": [], "m": {},
         "nested": {"x": b""}, "again": {"x": b"q"}, "fx": b"\x00" * 4},
    ]
    for codec in ("null", "deflate"):
        meta, out = avro_io.read_ocf(
            avro_io.write_ocf(schema, recs, codec=codec))
        assert out == recs
        assert json.loads(meta["avro.schema"]) == schema


def test_ocf_rejects_garbage_and_unknown_codec():
    with pytest.raises(ValueError, match="not an Avro"):
        avro_io.read_ocf(b"PAR1xxxx")
    data = avro_io.write_ocf({"type": "record", "name": "e",
                              "fields": []}, [{}])
    # corrupt the codec string in the header
    with pytest.raises(ValueError, match="codec"):
        avro_io.read_ocf(data.replace(b"deflate", b"snappyy"))


# --- iceberg type mapping ---------------------------------------------------


def test_iceberg_schema_conversion_both_ways():
    ice = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
        {"id": 3, "name": "price", "required": False,
         "type": "decimal(12, 2)"},
        {"id": 4, "name": "ts", "required": False, "type": "timestamptz"},
        {"id": 5, "name": "tags", "required": False,
         "type": {"type": "list", "element-id": 6, "element": "string",
                  "element-required": False}},
        {"id": 7, "name": "meta", "required": False,
         "type": {"type": "struct", "fields": [
             {"id": 8, "name": "k", "required": False, "type": "int"}]}},
    ]}
    spark_schema = il.iceberg_schema_to_spark(ice)
    names = [f.name for f in spark_schema.fields]
    assert names == ["id", "name", "price", "ts", "tags", "meta"]
    assert not spark_schema["id"].nullable
    assert spark_schema["price"].dataType.simpleString() == "decimal(12,2)"
    assert spark_schema["ts"].dataType.typeName() == "timestamp"
    # reverse: every exported field id unique, schema re-imports
    back = il.spark_schema_to_iceberg(spark_schema)
    ids = []

    def walk(t):
        if isinstance(t, dict):
            for k in ("id", "element-id", "key-id", "value-id"):
                if k in t:
                    ids.append(t[k])
            for f in t.get("fields", []):
                ids.append(f["id"])
                walk(f["type"])
            for k in ("element", "key", "value"):
                if k in t:
                    walk(t[k])

    walk(back)
    assert len(ids) == len(set(ids))
    assert back["_last_column_id"] == max(ids)
    again = il.iceberg_schema_to_spark(back)
    assert [f.dataType for f in again.fields] == \
        [f.dataType for f in spark_schema.fields]


# --- fixture: hand-built Iceberg table over pyarrow parquet -----------------


def _write_parquet(path: str, ids: list[int]) -> dict:
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "val": pa.array([f"v{i}" for i in ids], pa.string()),
    })
    pq.write_table(table, path)
    return {"file_path": path, "record_count": len(ids),
            "file_size_in_bytes": os.path.getsize(path)}


class _F:
    def __init__(self, path, num_rows, size_bytes):
        self.path, self.num_rows, self.size_bytes = path, num_rows, size_bytes


def _manifest(mdir: str, entries: list[dict]) -> str:
    path = os.path.join(mdir, f"{uuid.uuid4()}-m0.avro")
    with open(path, "wb") as f:
        f.write(avro_io.write_ocf(il.MANIFEST_ENTRY_SCHEMA, entries))
    return path


def _entry(status: int, df: dict, content: int = 0) -> dict:
    return {"status": status, "snapshot_id": 1, "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {"content": content, "file_path": df["file_path"],
                          "file_format": "PARQUET", "partition": {},
                          "record_count": df["record_count"],
                          "file_size_in_bytes": df["file_size_in_bytes"]}}


def _mlist(mdir: str, snap_id: int, manifests: list[tuple[str, int]]) -> str:
    path = os.path.join(mdir, f"snap-{snap_id}-{uuid.uuid4()}.avro")
    recs = [{"manifest_path": m, "manifest_length": os.path.getsize(m),
             "partition_spec_id": 0, "content": c, "sequence_number": 1,
             "min_sequence_number": 1, "added_snapshot_id": snap_id,
             "added_files_count": 1, "existing_files_count": 0,
             "deleted_files_count": 0, "added_rows_count": 0,
             "existing_rows_count": 0, "deleted_rows_count": 0}
            for m, c in manifests]
    with open(path, "wb") as f:
        f.write(avro_io.write_ocf(il.MANIFEST_LIST_SCHEMA, recs))
    return path


_ICE_SCHEMA = {"type": "struct", "schema-id": 0, "fields": [
    {"id": 1, "name": "id", "required": False, "type": "long"},
    {"id": 2, "name": "val", "required": False, "type": "string"}]}


def _metadata(tdir: str, snapshots: list[dict], current: int) -> str:
    meta = {"format-version": 2, "table-uuid": str(uuid.uuid4()),
            "location": tdir, "last-sequence-number": 1,
            "last-updated-ms": 1723600000000, "last-column-id": 2,
            "current-schema-id": 0, "schemas": [_ICE_SCHEMA],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999, "properties": {},
            "current-snapshot-id": current, "snapshots": snapshots,
            "snapshot-log": [], "metadata-log": []}
    mpath = os.path.join(tdir, "metadata", "v3.metadata.json")
    with open(mpath, "w") as f:
        json.dump(meta, f)
    # an older metadata file that resolve_metadata_location must skip
    with open(os.path.join(tdir, "metadata", "v2.metadata.json"),
              "w") as f:
        json.dump({"format-version": 2, "stale": True}, f)
    return mpath


@pytest.fixture()
def ice_table(tmp_path):
    """Two-snapshot Iceberg table: snap1 = file1 (ids 0-9); snap2 =
    file1 EXISTING + file2 ADDED (ids 10-14)."""
    tdir = str(tmp_path / "ice")
    mdir = os.path.join(tdir, "metadata")
    ddir = os.path.join(tdir, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    f1 = _write_parquet(os.path.join(ddir, "f1.parquet"), list(range(10)))
    f2 = _write_parquet(os.path.join(ddir, "f2.parquet"),
                        list(range(10, 15)))
    m1 = _manifest(mdir, [_entry(1, f1)])
    m2 = _manifest(mdir, [_entry(0, f1), _entry(1, f2)])
    snaps = [
        {"snapshot-id": 1, "sequence-number": 1,
         "timestamp-ms": 1723500000000, "manifest-list":
             _mlist(mdir, 1, [(m1, 0)]), "summary": {"operation": "append"},
         "schema-id": 0},
        {"snapshot-id": 2, "sequence-number": 2,
         "timestamp-ms": 1723600000000, "manifest-list":
             _mlist(mdir, 2, [(m2, 0)]), "summary": {"operation": "append"},
         "schema-id": 0},
    ]
    _metadata(tdir, snaps, current=2)
    return tdir, f1, f2


def test_adopt_current_snapshot(spark, tmp_path, ice_table):
    tdir, f1, f2 = ice_table
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    n = eng.adopt_iceberg_table("lake.t", tdir)
    assert n == 2
    got = eng.sql("SELECT COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS s "
                  "FROM lake.t").first()
    assert (got.n, got.s) == (15, sum(range(15)))
    # resolve picked the NEWEST metadata file, not v2
    tdef = eng.catalog.describe_table(
        eng.catalog.begin(read_only=True), "lake", "t")
    assert tdef.format == "ICEBERG"
    assert tdef.metadata_location.endswith("v3.metadata.json")
    assert sorted(f.num_rows for f in tdef.data_files) == [5, 10]


def test_adopt_snapshot_time_travel(spark, tmp_path, ice_table):
    tdir, *_ = ice_table
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    n = eng.adopt_iceberg_table("lake.t1", tdir, snapshot_id=1)
    assert n == 1
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t1").first().n == 10
    with pytest.raises(ValueError, match="snapshot 99 not found"):
        eng.adopt_iceberg_table("lake.bad", tdir, snapshot_id=99)


def test_adopted_table_is_read_only_unless_native(spark, tmp_path,
                                                  ice_table):
    tdir, f1, f2 = ice_table
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.ro", tdir)
    with pytest.raises(ValueError, match="read-only ICEBERG"):
        eng.sql("DELETE FROM lake.ro WHERE id = 1")
    # native adoption: DML works, the Iceberg originals are untouched
    eng.adopt_iceberg_table("lake.rw", tdir, as_native=True)
    eng.sql("DELETE FROM lake.rw WHERE id < 10")
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.rw").first().n == 5
    assert os.path.exists(f1["file_path"])
    assert pq.ParquetFile(f1["file_path"]).metadata.num_rows == 10


def test_deleted_status_entries_are_excluded(spark, tmp_path):
    tdir = str(tmp_path / "ice2")
    mdir = os.path.join(tdir, "metadata")
    os.makedirs(mdir)
    f1 = _write_parquet(os.path.join(tdir, "a.parquet"), [1, 2, 3])
    f2 = _write_parquet(os.path.join(tdir, "b.parquet"), [4, 5])
    m = _manifest(mdir, [_entry(2, f1), _entry(1, f2)])   # f1 DELETED
    snap = {"snapshot-id": 7, "sequence-number": 1,
            "timestamp-ms": 1, "manifest-list": _mlist(mdir, 7, [(m, 0)]),
            "summary": {}, "schema-id": 0}
    mpath = os.path.join(mdir, "v1.metadata.json")
    with open(mpath, "w") as f:
        json.dump({"format-version": 2, "location": tdir,
                   "last-sequence-number": 1, "last-updated-ms": 1,
                   "last-column-id": 2, "current-schema-id": 0,
                   "schemas": [_ICE_SCHEMA], "default-spec-id": 0,
                   "partition-specs": [{"spec-id": 0, "fields": []}],
                   "last-partition-id": 999, "properties": {},
                   "current-snapshot-id": 7, "snapshots": [snap],
                   "table-uuid": str(uuid.uuid4())}, f)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    assert eng.adopt_iceberg_table("lake.d", mpath) == 1
    assert eng.sql("SELECT CAST(SUM(id) AS BIGINT) AS s FROM lake.d"
                   ).first().s == 9


def test_live_delete_manifest_refused(tmp_path):
    tdir = str(tmp_path / "ice3")
    mdir = os.path.join(tdir, "metadata")
    os.makedirs(mdir)
    f1 = _write_parquet(os.path.join(tdir, "a.parquet"), [1])
    dm = _manifest(mdir, [_entry(1, f1, content=1)])   # position deletes
    snap = {"snapshot-id": 1, "manifest-list": _mlist(mdir, 1, [(dm, 1)]),
            "timestamp-ms": 1, "summary": {}}
    with pytest.raises(ValueError, match="merge-on-read"):
        il.live_data_files(snap)


def test_export_then_adopt_round_trip(spark, tmp_path):
    wh = Engine(spark, str(tmp_path / "wh"))
    wh.sql("CREATE NAMESPACE nat")
    wh.sql("CREATE TABLE nat.src (id BIGINT, name STRING)")
    wh.sql("INSERT INTO nat.src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    wh.sql("INSERT INTO nat.src VALUES (4, 'd')")
    mpath = wh.export_iceberg_table("nat.src", str(tmp_path / "out"))
    assert mpath.endswith(".metadata.json")
    # a second engine adopts the exported metadata and sees the same rows
    other = Engine(spark, str(tmp_path / "wh2"))
    other.sql("CREATE NAMESPACE lake")
    n_src_files = len(wh.catalog.describe_table(
        wh.catalog.begin(read_only=True), "nat", "src").data_files)
    assert other.adopt_iceberg_table("lake.src", mpath) == n_src_files
    rows = other.sql("SELECT id, name FROM lake.src ORDER BY id").collect()
    assert [(r.id, r.name) for r in rows] == \
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_adopt_identity_partition_values_become_stats(spark, tmp_path):
    """Identity partition values from the manifest land as [v, v] file
    stats so catalog-side pruning applies to adopted files."""
    tdir = str(tmp_path / "icep")
    os.makedirs(os.path.join(tdir, "metadata"))
    ids_by_region = {1: [1, 2], 2: [3, 4, 5]}
    files, pvals = [], {}
    for region, ids in ids_by_region.items():
        p = os.path.join(tdir, f"r{region}.parquet")
        table = pa.table({
            "id": pa.array(ids, pa.int64()),
            "val": pa.array([f"v{i}" for i in ids], pa.string()),
            "region": pa.array([region] * len(ids), pa.int64()),
        })
        pq.write_table(table, p)
        files.append(_F(p, len(ids), os.path.getsize(p)))
        pvals[p] = {"region": region}
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("region", T.LongType())])
    mpath = il.export_iceberg_metadata(
        tdir, schema, files, partition_values=pvals,
        partition_avro_types={"region": "long"})
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.p", mpath)
    tdef = eng.catalog.describe_table(
        eng.catalog.begin(read_only=True), "lake", "p")
    stats = {os.path.basename(f.path): f.stats for f in tdef.data_files}
    assert stats["r1.parquet"]["region"] == [1, 1]
    assert stats["r2.parquet"]["region"] == [2, 2]
    # data files carry the partition column (Iceberg semantics), so the
    # scan returns it without hive-path reconstruction
    got = eng.sql("SELECT CAST(SUM(id) AS BIGINT) AS s FROM lake.p "
                  "WHERE region = 2").first()
    assert got.s == 12


def test_export_partition_spec_source_id_is_schema_field_id(tmp_path):
    """The spec's source-id must be the source COLUMN's schema field id
    (Iceberg spec), not the partition-enumeration ordinal — an external
    client resolves partition values through it, so an ordinal would
    attribute them to the wrong column (region, field id 3, must not
    read as 'id')."""
    import json

    tdir = str(tmp_path / "icesrc")
    os.makedirs(os.path.join(tdir, "metadata"))
    p = os.path.join(tdir, "f.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()),
                             "val": pa.array(["a"], pa.string()),
                             "region": pa.array([9], pa.int64())}), p)
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("region", T.LongType())])
    mpath = il.export_iceberg_metadata(
        tdir, schema, [_F(p, 1, os.path.getsize(p))],
        partition_values={p: {"region": 9}},
        partition_avro_types={"region": "long"})
    meta = json.load(open(mpath))
    sf = meta["partition-specs"][0]["fields"]
    schema_ids = {f["name"]: f["id"]
                  for f in meta["schemas"][0]["fields"]}
    assert sf == [{"name": "region", "field-id": 1000,
                   "source-id": schema_ids["region"],
                   "transform": "identity"}]
    assert schema_ids["region"] == 3
    with pytest.raises(ValueError, match="not in schema"):
        il.export_iceberg_metadata(
            tdir, schema, [], partition_avro_types={"nope": "long"})


def _mor_table(tmp_path, delete_content=1):
    """Iceberg v2 merge-on-read table: two data files + one delete file
    (positions 1 and 3 of f1, position 0 of f2)."""
    tdir = str(tmp_path / "icemor")
    mdir = os.path.join(tdir, "metadata")
    ddir = os.path.join(tdir, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    f1 = _write_parquet(os.path.join(ddir, "f1.parquet"), list(range(10)))
    f2 = _write_parquet(os.path.join(ddir, "f2.parquet"),
                        list(range(10, 15)))
    dpath = os.path.join(ddir, "pd1.parquet")
    pq.write_table(pa.table({
        "file_path": pa.array([f1["file_path"], f1["file_path"],
                               f2["file_path"]], pa.string()),
        "pos": pa.array([1, 3, 0], pa.int64()),
    }), dpath)
    dd = {"file_path": dpath, "record_count": 3,
          "file_size_in_bytes": os.path.getsize(dpath)}
    m_data = _manifest(mdir, [_entry(1, f1), _entry(1, f2)])
    m_del = _manifest(mdir, [_entry(1, dd, content=delete_content)])
    snap = {"snapshot-id": 1, "sequence-number": 1,
            "timestamp-ms": 1723600000000,
            "manifest-list": _mlist(mdir, 1, [(m_data, 0), (m_del, 1)]),
            "summary": {"operation": "overwrite"}, "schema-id": 0}
    _metadata(tdir, [snap], current=1)
    return tdir


def test_adopt_mor_position_deletes(spark, tmp_path):
    """Round-6 VERDICT item #6: v2 merge-on-read adoption applies
    POSITION deletes at adoption time (net-rows CTAS via a distributed
    anti-join on _metadata.file_path/row_index) instead of refusing."""
    tdir = _mor_table(tmp_path)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    n = eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    assert n >= 1
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    assert ids == set(range(15)) - {1, 3, 10}
    vals = {r.val for r in
            eng.sql("SELECT val FROM lake.t WHERE id < 2").collect()}
    assert vals == {"v0"}              # v1 was position-deleted
    # materialized files are engine-owned → native DML works
    eng.sql("DELETE FROM lake.t WHERE id = 0")
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 11
    # provenance recorded
    txn = eng.catalog.begin()
    tdef = eng.catalog.describe_table(txn, "lake", "t")
    assert tdef.properties["iceberg.position-deletes-applied"] == "1"


def test_adopt_mor_equality_delete_without_ids_refused(spark, tmp_path):
    """A content=2 delete file that records no equality_ids violates the
    spec — adoption refuses with a clear error instead of guessing."""
    tdir = _mor_table(tmp_path, delete_content=2)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    with pytest.raises(ValueError, match="equality_ids"):
        eng.adopt_iceberg_table("lake.t", tdir)


# --- equality deletes (round-7 VERDICT item #2) -----------------------------


def _eq_entry_schema() -> dict:
    """MANIFEST_ENTRY_SCHEMA + the spec's equality_ids field (id 135) —
    real engines (Flink CDC) write it; our OCF reader decodes with the
    embedded writer schema, so the field surfaces without being in the
    package's own write schema."""
    import copy
    schema = copy.deepcopy(il.MANIFEST_ENTRY_SCHEMA)
    schema["fields"][4]["type"]["fields"].append(
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int"}],
         "default": None, "field-id": 135})
    return schema


def _eq_entry(status, df, *, content=0, seq=1, eq_ids=None) -> dict:
    return {"status": status, "snapshot_id": 1, "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {"content": content, "file_path": df["file_path"],
                          "file_format": "PARQUET", "partition": {},
                          "record_count": df["record_count"],
                          "file_size_in_bytes": df["file_size_in_bytes"],
                          "equality_ids": eq_ids}}


def _eq_manifest(mdir, entries) -> str:
    path = os.path.join(mdir, f"{uuid.uuid4()}-m0.avro")
    with open(path, "wb") as f:
        f.write(avro_io.write_ocf(_eq_entry_schema(), entries))
    return path


def _eq_table(tmp_path, *, delete_rows, eq_ids, extra_file_ids=None,
              mixed_pos=None, f1_uri=False):
    """v2 MOR table: f1 (ids 0-9, seq 1), an equality delete file
    (seq 2, keys ``delete_rows`` on ``eq_ids`` columns), and optionally
    f2 at seq 3 (rows written AFTER the delete — must survive) and a
    position delete file at seq 2. ``f1_uri`` records f1's manifest
    path in file:// URI form (some writers do)."""
    tdir = str(tmp_path / "iceeq")
    mdir = os.path.join(tdir, "metadata")
    ddir = os.path.join(tdir, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    f1 = _write_parquet(os.path.join(ddir, "f1.parquet"), list(range(10)))
    if f1_uri:
        f1 = {**f1, "file_path": "file://" + f1["file_path"]}
    manifests = [(_eq_manifest(mdir, [_eq_entry(1, f1, seq=1)]), 0, 1)]
    if extra_file_ids:
        f2 = _write_parquet(os.path.join(ddir, "f2.parquet"),
                            extra_file_ids)
        manifests.append(
            (_eq_manifest(mdir, [_eq_entry(1, f2, seq=3)]), 0, 3))
    dpath = os.path.join(ddir, "eq1.parquet")
    pq.write_table(pa.table(delete_rows), dpath)
    dd = {"file_path": dpath, "record_count": len(delete_rows["id"]),
          "file_size_in_bytes": os.path.getsize(dpath)}
    manifests.append(
        (_eq_manifest(mdir, [_eq_entry(1, dd, content=2, seq=2,
                                       eq_ids=eq_ids)]), 1, 2))
    if mixed_pos:
        ppath = os.path.join(ddir, "pd1.parquet")
        pq.write_table(pa.table({
            "file_path": pa.array([f1["file_path"]] * len(mixed_pos),
                                  pa.string()),
            "pos": pa.array(mixed_pos, pa.int64())}), ppath)
        pd_ = {"file_path": ppath, "record_count": len(mixed_pos),
               "file_size_in_bytes": os.path.getsize(ppath)}
        manifests.append(
            (_eq_manifest(mdir, [_eq_entry(1, pd_, content=1, seq=2)]),
             1, 2))
    # manifest list with per-manifest sequence numbers
    mlpath = os.path.join(tdir, "metadata", f"snap-1-{uuid.uuid4()}.avro")
    recs = [{"manifest_path": m, "manifest_length": os.path.getsize(m),
             "partition_spec_id": 0, "content": c, "sequence_number": s,
             "min_sequence_number": s, "added_snapshot_id": 1,
             "added_files_count": 1, "existing_files_count": 0,
             "deleted_files_count": 0, "added_rows_count": 0,
             "existing_rows_count": 0, "deleted_rows_count": 0}
            for m, c, s in manifests]
    with open(mlpath, "wb") as f:
        f.write(avro_io.write_ocf(il.MANIFEST_LIST_SCHEMA, recs))
    snap = {"snapshot-id": 1, "sequence-number": 3,
            "timestamp-ms": 1723600000000, "manifest-list": mlpath,
            "summary": {"operation": "overwrite"}, "schema-id": 0}
    _metadata(tdir, [snap], current=1)
    return tdir


def test_adopt_mor_equality_deletes_applied(spark, tmp_path):
    """Equality deletes (Flink-CDC shape) apply at adoption: rows whose
    id matches a delete row AND whose data sequence number is strictly
    below the delete's are dropped; rows written after survive."""
    tdir = _eq_table(
        tmp_path,
        delete_rows={"id": pa.array([1, 3, 12], pa.int64())},
        eq_ids=[1],                       # field id 1 = "id"
        extra_file_ids=[10, 11, 12])      # seq 3 > delete seq 2 → survive
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    n = eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    assert n >= 1
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    # 1 and 3 equality-deleted from f1 (seq 1 < 2); 12 SURVIVES in f2
    # (seq 3 > 2 — written after the delete)
    assert ids == (set(range(10)) - {1, 3}) | {10, 11, 12}
    txn = eng.catalog.begin()
    tdef = eng.catalog.describe_table(txn, "lake", "t")
    assert tdef.properties["iceberg.equality-deletes-applied"] == "1"
    assert tdef.properties["iceberg.position-deletes-applied"] == "0"


def test_adopt_mor_equality_delete_with_file_uri_paths(spark, tmp_path):
    """ADVICE r7: a manifest that records data-file paths in file:// URI
    form must still join the per-file sequence map — seq_df now applies
    the same norm() as the scan side; before the fix __seq joined NULL,
    every delete condition evaluated NULL, and the deleted rows silently
    resurfaced."""
    tdir = _eq_table(
        tmp_path,
        delete_rows={"id": pa.array([1, 3], pa.int64())},
        eq_ids=[1], f1_uri=True)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    assert ids == set(range(10)) - {1, 3}


def test_adopt_mor_multi_column_equality_and_nulls(spark, tmp_path):
    """Multi-column equality_ids use null-safe equality — a delete row
    with a NULL value deletes rows where that column IS NULL (spec:
    'null values match null')."""
    tdir = str(tmp_path / "icenull")
    mdir = os.path.join(tdir, "metadata")
    ddir = os.path.join(tdir, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    table = pa.table({
        "id": pa.array([1, 1, 2, 2, 3], pa.int64()),
        "val": pa.array(["a", None, "a", "b", None], pa.string())})
    fpath = os.path.join(ddir, "f1.parquet")
    pq.write_table(table, fpath)
    f1 = {"file_path": fpath, "record_count": 5,
          "file_size_in_bytes": os.path.getsize(fpath)}
    dpath = os.path.join(ddir, "eq1.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 3], pa.int64()),
        "val": pa.array([None, None], pa.string())}), dpath)
    dd = {"file_path": dpath, "record_count": 2,
          "file_size_in_bytes": os.path.getsize(dpath)}
    m1 = _eq_manifest(mdir, [_eq_entry(1, f1, seq=1)])
    m2 = _eq_manifest(mdir, [_eq_entry(1, dd, content=2, seq=2,
                                       eq_ids=[1, 2])])
    mlpath = os.path.join(mdir, f"snap-1-{uuid.uuid4()}.avro")
    recs = [{"manifest_path": m, "manifest_length": os.path.getsize(m),
             "partition_spec_id": 0, "content": c, "sequence_number": s,
             "min_sequence_number": s, "added_snapshot_id": 1,
             "added_files_count": 1, "existing_files_count": 0,
             "deleted_files_count": 0, "added_rows_count": 0,
             "existing_rows_count": 0, "deleted_rows_count": 0}
            for m, c, s in [(m1, 0, 1), (m2, 1, 2)]]
    with open(mlpath, "wb") as f:
        f.write(avro_io.write_ocf(il.MANIFEST_LIST_SCHEMA, recs))
    snap = {"snapshot-id": 1, "sequence-number": 2,
            "timestamp-ms": 1723600000000, "manifest-list": mlpath,
            "summary": {"operation": "overwrite"}, "schema-id": 0}
    _metadata(tdir, [snap], current=1)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    rows = {(r.id, r.val) for r in
            eng.sql("SELECT id, val FROM lake.t").collect()}
    # deleted: (1, NULL) and (3, NULL); (1,'a') survives (val differs)
    assert rows == {(1, "a"), (2, "a"), (2, "b")}


def test_adopt_mor_mixed_position_and_equality(spark, tmp_path):
    tdir = _eq_table(
        tmp_path,
        delete_rows={"id": pa.array([5], pa.int64())},
        eq_ids=[1],
        mixed_pos=[0, 2])                 # position-delete ids 0 and 2
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    assert ids == set(range(10)) - {0, 2, 5}
    txn = eng.catalog.begin()
    tdef = eng.catalog.describe_table(txn, "lake", "t")
    assert tdef.properties["iceberg.position-deletes-applied"] == "1"
    assert tdef.properties["iceberg.equality-deletes-applied"] == "1"


def test_adopt_mor_all_data_deleted_yields_empty_table(spark, tmp_path):
    """Round-6 review: a snapshot whose data manifests are all
    tombstoned (status=2) but which still carries a live delete file
    must adopt as an EMPTY table, not crash on an empty parquet read."""
    tdir = str(tmp_path / "icemt")
    mdir = os.path.join(tdir, "metadata")
    ddir = os.path.join(tdir, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    f1 = _write_parquet(os.path.join(ddir, "f1.parquet"), [1, 2])
    dpath = os.path.join(ddir, "pd.parquet")
    pq.write_table(pa.table({
        "file_path": pa.array([f1["file_path"]], pa.string()),
        "pos": pa.array([0], pa.int64())}), dpath)
    dd = {"file_path": dpath, "record_count": 1,
          "file_size_in_bytes": os.path.getsize(dpath)}
    m_data = _manifest(mdir, [_entry(2, f1)])          # tombstoned
    m_del = _manifest(mdir, [_entry(1, dd, content=1)])
    snap = {"snapshot-id": 1, "sequence-number": 1,
            "timestamp-ms": 1723600000000,
            "manifest-list": _mlist(mdir, 1, [(m_data, 0), (m_del, 1)]),
            "summary": {}, "schema-id": 0}
    _metadata(tdir, [snap], current=1)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 0


def test_adopt_mor_partition_scoped_equality_delete(spark, tmp_path):
    """An equality delete file stored WITH a partition tuple applies
    only inside that partition (spec "Scan Planning": only a delete
    file stored with an unpartitioned spec is a global delete) — a
    same-key row in ANOTHER partition must survive. Regression: the
    adoption anti-join originally keyed on equality columns + sequence
    number only, silently dropping the cross-partition row."""
    import copy
    tdir = str(tmp_path / "icepart")
    mdir = os.path.join(tdir, "metadata")
    ddir = os.path.join(tdir, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    # partitioned entry schema (identity region string) + equality_ids
    schema = copy.deepcopy(il.MANIFEST_ENTRY_SCHEMA)
    schema["fields"][4]["type"]["fields"][3]["type"]["fields"] = [
        {"name": "region", "type": ["null", "string"],
         "default": None, "field-id": 1000}]
    schema["fields"][4]["type"]["fields"].append(
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int"}],
         "default": None, "field-id": 135})

    def entry(df, *, content=0, seq, region, eq_ids=None):
        return {"status": 1, "snapshot_id": 1, "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": content, "file_path": df["file_path"],
                    "file_format": "PARQUET",
                    "partition": {"region": region},
                    "record_count": df["record_count"],
                    "file_size_in_bytes": df["file_size_in_bytes"],
                    "equality_ids": eq_ids}}

    def manifest(entries):
        path = os.path.join(mdir, f"{uuid.uuid4()}-m0.avro")
        with open(path, "wb") as f:
            f.write(avro_io.write_ocf(schema, entries))
        return path

    f_eu = _write_parquet(os.path.join(ddir, "eu.parquet"), [1, 5, 7])
    f_us = _write_parquet(os.path.join(ddir, "us.parquet"), [5, 9])
    dpath = os.path.join(ddir, "eq-eu.parquet")
    pq.write_table(pa.table({"id": pa.array([5], pa.int64())}), dpath)
    dd = {"file_path": dpath, "record_count": 1,
          "file_size_in_bytes": os.path.getsize(dpath)}
    manifests = [
        (manifest([entry(f_eu, seq=1, region="eu")]), 0, 1),
        (manifest([entry(f_us, seq=1, region="us")]), 0, 1),
        (manifest([entry(dd, content=2, seq=2, region="eu",
                         eq_ids=[1])]), 1, 2),
    ]
    mlpath = os.path.join(mdir, f"snap-1-{uuid.uuid4()}.avro")
    recs = [{"manifest_path": m, "manifest_length": os.path.getsize(m),
             "partition_spec_id": 0, "content": c, "sequence_number": s,
             "min_sequence_number": s, "added_snapshot_id": 1,
             "added_files_count": 1, "existing_files_count": 0,
             "deleted_files_count": 0, "added_rows_count": 0,
             "existing_rows_count": 0, "deleted_rows_count": 0}
            for m, c, s in manifests]
    with open(mlpath, "wb") as f:
        f.write(avro_io.write_ocf(il.MANIFEST_LIST_SCHEMA, recs))
    snap = {"snapshot-id": 1, "sequence-number": 2,
            "timestamp-ms": 1723600000000, "manifest-list": mlpath,
            "summary": {"operation": "overwrite"}, "schema-id": 0}
    _metadata(tdir, [snap], current=1)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    ids = sorted(r.id for r in eng.sql("SELECT id FROM lake.t").collect())
    # eu id=5 dropped (same partition, seq 1 < 2); us id=5 SURVIVES
    assert ids == [1, 5, 7, 9]


class _CountingReaderProxy:
    """spark proxy whose .read counts parquet() relation builds."""

    def __init__(self, spark, calls):
        self._spark = spark
        self._calls = calls

    @property
    def read(self):
        proxy = self

        class _R:
            def __init__(self, reader):
                self._reader = reader

            def schema(self, s):
                return _R(self._reader.schema(s))

            def parquet(self, *paths):
                proxy._calls.append(len(paths))
                return self._reader.parquet(*paths)

            def __getattr__(self, name):
                return getattr(self._reader, name)

        return _R(self._spark.read)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def test_adopt_hundred_equality_delete_files_batched(spark, tmp_path):
    """VERDICT r7 missing #3: a Flink-CDC snapshot with 100 small
    equality-delete files must apply as O(distinct equality_ids groups)
    relations/anti-joins — here 2 groups → exactly 3 parquet relation
    builds (1 data + 2 delete groups), never 101."""
    tdir = str(tmp_path / "ice100")
    mdir = os.path.join(tdir, "metadata")
    ddir = os.path.join(tdir, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    f1 = _write_parquet(os.path.join(ddir, "f1.parquet"), list(range(10)))
    entries = [_eq_entry(1, f1, seq=1)]
    data_manifest = _eq_manifest(mdir, entries)
    del_entries = []
    for i in range(60):                       # group A: eq_ids=[1] (id)
        dpath = os.path.join(ddir, f"eqA{i}.parquet")
        pq.write_table(pa.table({"id": pa.array([i + 2], pa.int64())}),
                       dpath)
        dd = {"file_path": dpath, "record_count": 1,
              "file_size_in_bytes": os.path.getsize(dpath)}
        del_entries.append(_eq_entry(1, dd, content=2, seq=2, eq_ids=[1]))
    for i in range(40):                       # group B: eq_ids=[2] (val)
        dpath = os.path.join(ddir, f"eqB{i}.parquet")
        pq.write_table(pa.table(
            {"val": pa.array([f"v{1 if i == 0 else 1000 + i}"],
                             pa.string())}), dpath)
        dd = {"file_path": dpath, "record_count": 1,
              "file_size_in_bytes": os.path.getsize(dpath)}
        del_entries.append(_eq_entry(1, dd, content=2, seq=2, eq_ids=[2]))
    del_manifest = _eq_manifest(mdir, del_entries)
    mlpath = os.path.join(mdir, f"snap-1-{uuid.uuid4()}.avro")
    recs = [{"manifest_path": m, "manifest_length": os.path.getsize(m),
             "partition_spec_id": 0, "content": c, "sequence_number": s,
             "min_sequence_number": s, "added_snapshot_id": 1,
             "added_files_count": 1, "existing_files_count": 0,
             "deleted_files_count": 0, "added_rows_count": 0,
             "existing_rows_count": 0, "deleted_rows_count": 0}
            for m, c, s in [(data_manifest, 0, 1), (del_manifest, 1, 2)]]
    with open(mlpath, "wb") as f:
        f.write(avro_io.write_ocf(il.MANIFEST_LIST_SCHEMA, recs))
    snap = {"snapshot-id": 1, "sequence-number": 2,
            "timestamp-ms": 1723600000000, "manifest-list": mlpath,
            "summary": {"operation": "overwrite"}, "schema-id": 0}
    _metadata(tdir, [snap], current=1)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    calls: list = []
    eng.spark = _CountingReaderProxy(spark, calls)
    eng.adopt_iceberg_table("lake.t", tdir, as_native=True)
    eng.spark = spark
    assert len(calls) == 3, calls
    # group A deleted ids 2..61 (2-9 present), group B deleted val 'v1'
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    assert ids == {0}


# --- identity-partitioned export / manifest-constant fill (round 9) ---------


def test_export_identity_partitioned_round_trip(spark, tmp_path):
    """A hive-partitioned native table exports with identity partition
    FIELDS whose per-file values ride in the manifest (the column stays
    in the schema but is legitimately absent from the data files — spec
    'Columns used for identity partition values may be omitted from
    data files'), and a second engine re-adopts it with byte-identical
    query results, partition filters included."""
    wh = Engine(spark, str(tmp_path / "wh"))
    wh.sql("CREATE NAMESPACE nat")
    src = spark.createDataFrame(
        [(i, f"n{i}", ["web", "books", "code"][i % 3]) for i in range(12)],
        "id BIGINT, name STRING, source STRING")
    wh.write_table(src, "nat.hp", partition_by=["source"])
    wh.write_table(src.filter("id < 3"), "nat.hp")     # second hive append
    mpath = wh.export_iceberg_table("nat.hp", str(tmp_path / "out"))
    meta = json.load(open(mpath))
    spec = meta["partition-specs"][0]["fields"]
    assert [f["transform"] for f in spec] == ["identity"]
    assert spec[0]["name"] == "source"
    # identity column STAYS in the schema
    assert "source" in {f["name"] for f in meta["schemas"][0]["fields"]}

    other = Engine(spark, str(tmp_path / "wh2"))
    other.sql("CREATE NAMESPACE lake")
    other.adopt_iceberg_table("lake.hp", mpath)
    want = sorted((r.id, r.name, r.source) for r in src.collect()) + \
        sorted((r.id, r.name, r.source)
               for r in src.filter("id < 3").collect())
    got = sorted((r.id, r.name, r.source) for r in other.sql(
        "SELECT id, name, source FROM lake.hp").collect())
    assert got == sorted(want)
    # partition predicate resolves through the manifest constants
    n_web = other.sql("SELECT COUNT(*) AS n FROM lake.hp "
                      "WHERE source = 'web'").first().n
    assert n_web == src.filter("source = 'web'").count() + 1


def test_export_identity_date_partition_round_trip(spark, tmp_path):
    """Date identity partitions: manifest stores epoch-day ordinals
    (avro int); re-adoption converts them back and fills exact dates."""
    import datetime as dt
    wh = Engine(spark, str(tmp_path / "wh"))
    wh.sql("CREATE NAMESPACE nat")
    src = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 3)) for i in range(6)],
        "id BIGINT, d DATE")
    wh.write_table(src, "nat.dp", partition_by=["d"])
    mpath = wh.export_iceberg_table("nat.dp", str(tmp_path / "out"))
    other = Engine(spark, str(tmp_path / "wh2"))
    other.sql("CREATE NAMESPACE lake")
    other.adopt_iceberg_table("lake.dp", mpath)
    got = sorted((r.id, r.d) for r in other.sql(
        "SELECT id, d FROM lake.dp").collect())
    assert got == sorted((r.id, r.d) for r in src.collect())


def test_adopt_fills_identity_constants_for_omitted_columns(spark, tmp_path):
    """Hive-migration layout: data files OMIT the identity source
    column entirely; the scan must fill it from manifest partition
    values as a per-file constant, while a file that does store the
    column keeps its in-file values (coalesce, file-authoritative)."""
    tdir = str(tmp_path / "icemig")
    os.makedirs(os.path.join(tdir, "metadata"))
    from pyspark.sql import types as T
    # file 1: column omitted (migrated), manifest says region=7
    p1 = os.path.join(tdir, "m1.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), p1)
    # file 2: column present in-file (native write), manifest agrees
    p2 = os.path.join(tdir, "m2.parquet")
    pq.write_table(pa.table({"id": pa.array([3], pa.int64()),
                             "region": pa.array([9], pa.int64())}), p2)
    files = [_F(p1, 2, os.path.getsize(p1)), _F(p2, 1, os.path.getsize(p2))]
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("region", T.LongType())])
    mpath = il.export_iceberg_metadata(
        tdir, schema, files,
        partition_values={p1: {"region": 7}, p2: {"region": 9}},
        partition_avro_types={"region": "long"})
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.m", mpath)
    got = sorted((r.id, r.region) for r in eng.sql(
        "SELECT id, region FROM lake.m").collect())
    assert got == [(1, 7), (2, 7), (3, 9)]
    # and predicates on the filled column stay correct
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.m WHERE region = 7"
                   ).first().n == 2


def test_identity_fill_survives_special_chars_in_path(spark, tmp_path):
    """ADVICE r9 #2: _metadata.file_path percent-encodes the raw
    filesystem path (space → %20, '%' → %25, non-ASCII → %xx) while
    the manifest records the RAW path. Before the URI-layer decode the
    broadcast fill join missed such files entirely and the identity
    column silently read NULL instead of the manifest constant."""
    from pyspark.sql import types as T
    tdir = str(tmp_path / "ice sp")
    os.makedirs(os.path.join(tdir, "metadata"))
    # space, literal %, literal + and a non-ASCII char in the filename
    p1 = os.path.join(tdir, "part a 50%off+ü.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), p1)
    files = [_F(p1, 2, os.path.getsize(p1))]
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("region", T.LongType())])
    mpath = il.export_iceberg_metadata(
        tdir, schema, files,
        partition_values={p1: {"region": 7}},
        partition_avro_types={"region": "long"})
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.sp", mpath)
    got = sorted((r.id, r.region) for r in eng.sql(
        "SELECT id, region FROM lake.sp").collect())
    assert got == [(1, 7), (2, 7)]


# --- in-place MOR pointer reads (round-12, r11 VERDICT missing #2) ----------


def _pointer_engine(spark, tmp_path, location):
    """A reference-format (binpb) catalog holding ONLY an Iceberg
    POINTER def at ``location`` — what the Java reference writes
    (objects.proto:58-69); schema + files + the MOR delete obligation
    hydrate from the Iceberg metadata at describe time."""
    from olympia_spark.catalog.catalog import Catalog
    from olympia_spark.catalog.defs import TableDef
    wh = str(tmp_path / "ptr_wh")
    cat = Catalog.create(wh, def_format="binpb")
    txn = cat.begin()
    cat.create_namespace(txn, "lake")
    cat.create_table(txn, "lake", "t", TableDef(
        format="ICEBERG", schema_json="",
        metadata_location=il.resolve_metadata_location(location)))
    cat.commit(txn)
    return Engine(spark, wh)


def test_pointer_mor_position_deletes_read_in_place(spark, tmp_path):
    """r11 VERDICT missing #2: a reference pointer def whose snapshot
    carries POSITION deletes is queried IN PLACE (the reference reads
    it natively via the Iceberg library, OlympiaIcebergTableScan.java)
    — no adoption, no materialization; the anti-join on
    (_metadata.file_path, row_index) applies at scan assembly."""
    tdir = _mor_table(tmp_path)
    eng = _pointer_engine(spark, tmp_path, tdir)
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    assert ids == set(range(15)) - {1, 3, 10}
    # aggregation through the same read path
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 12
    # the def carries the obligation, files stay the Iceberg originals
    tdef = eng.catalog.describe_table(
        eng.catalog.begin(read_only=True), "lake", "t")
    assert "iceberg.mor_deletes" in tdef.properties
    assert all(p.startswith("/") for p in (f.path for f in
                                           tdef.data_files))
    # read-only: pointer tables refuse DML, deletes or not
    with pytest.raises(Exception):
        eng.sql("DELETE FROM lake.t WHERE id = 0")


def test_pointer_mor_equality_deletes_read_in_place(spark, tmp_path):
    """Equality deletes (Flink-CDC shape) on a POINTER def: sequence
    scoping holds — rows in a data file written AFTER the delete's
    commit survive a key match."""
    tdir = _eq_table(
        tmp_path,
        delete_rows={"id": pa.array([1, 3, 12], pa.int64())},
        eq_ids=[1],                       # field id 1 = "id"
        extra_file_ids=[10, 11, 12])      # seq 3 > delete seq 2 → survive
    eng = _pointer_engine(spark, tmp_path, tdir)
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    assert ids == (set(range(10)) - {1, 3}) | {10, 11, 12}


def test_pointer_mor_mixed_pos_and_eq_deletes(spark, tmp_path):
    """Both delete kinds on one snapshot apply together in place."""
    tdir = _eq_table(
        tmp_path,
        delete_rows={"id": pa.array([1], pa.int64())},
        eq_ids=[1], mixed_pos=[5, 7])     # also drop f1 rows 5 and 7
    eng = _pointer_engine(spark, tmp_path, tdir)
    ids = {r.id for r in eng.sql("SELECT id FROM lake.t").collect()}
    assert ids == set(range(10)) - {1, 5, 7}


def test_pointer_mor_unknown_delete_content_refused(spark, tmp_path):
    """A delete file with an unknown content value (not 1/2) refuses
    loudly at hydration — applying it as either kind would be silently
    wrong (r11 VERDICT #3: keep the refusal for unknown kinds)."""
    tdir = _mor_table(tmp_path, delete_content=3)
    eng = _pointer_engine(spark, tmp_path, tdir)
    with pytest.raises(ValueError, match="unknown content"):
        eng.sql("SELECT id FROM lake.t").collect()


def test_pointer_mor_equality_without_ids_refused(spark, tmp_path):
    """content=2 with no equality_ids refuses at hydration, not at
    some later read."""
    tdir = _mor_table(tmp_path, delete_content=2)
    eng = _pointer_engine(spark, tmp_path, tdir)
    with pytest.raises(ValueError, match="equality_ids"):
        eng.sql("SELECT id FROM lake.t").collect()


def test_pointer_mor_with_identity_fill_refused(spark, tmp_path):
    """Review r12 pass-1: identity-partitioned estates may OMIT the
    identity column from data files; the in-place MOR scan reads files
    directly and would serve those columns as NULL — hydration refuses
    the combination loudly instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from olympia_spark.catalog.defs import DataFile
    tdir = str(tmp_path / "icemorid")
    os.makedirs(os.path.join(tdir, "metadata"))
    p1 = os.path.join(tdir, "f1.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), p1)
    dpath = os.path.join(tdir, "pd.parquet")
    pq.write_table(pa.table({
        "file_path": pa.array([os.path.abspath(p1)], pa.string()),
        "pos": pa.array([0], pa.int64())}), dpath)
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("region", T.LongType())])
    mpath = il.export_iceberg_metadata(
        tdir, schema,
        [DataFile(path=p1, num_rows=3, size_bytes=os.path.getsize(p1))],
        partition_values={p1: {"region": 7}},
        partition_avro_types={"region": "long"},
        delete_files=[{"path": dpath, "num_rows": 1,
                       "size_bytes": os.path.getsize(dpath),
                       "content": 1}])
    eng = _pointer_engine(spark, tmp_path, mpath)
    with pytest.raises(ValueError, match="identity-fill"):
        eng.sql("SELECT id FROM lake.t").collect()
    # the one-time adopt lane refuses the same combination
    eng2 = Engine(spark, str(tmp_path / "wh2"))
    eng2.sql("CREATE NAMESPACE lake")
    with pytest.raises(ValueError, match="identity-fill"):
        eng2.adopt_iceberg_table("lake.m", mpath)


def test_pointer_mor_analyze_and_changefeed_see_net_rows(spark, tmp_path):
    """Review r12 pass-2 (both empirically reproduced): EVERY reader
    surface must apply the MOR obligation — ANALYZE reported the raw
    15 rows where SELECT returns 12, and the ANALYZE commit froze the
    hydrated def (files + mor stamp) into the catalog, stopping every
    later metadata refresh."""
    import json as _json
    tdir = _mor_table(tmp_path)
    eng = _pointer_engine(spark, tmp_path, tdir)
    stats = eng.analyze_table("lake.t", columns=["id"])
    assert stats["row_count"] == 12          # net, not raw 15
    # the committed def must stay pointer-minimal: no frozen file
    # list, no persisted hydration stamp
    txn = eng.catalog.begin(read_only=True)
    raw_path = eng.catalog.tree.search(
        txn.running_root, eng.catalog._tbl_key("lake", "t"))
    from olympia_spark.catalog.defs import read_def
    stored = read_def(eng.catalog.storage.read(raw_path), raw_path)
    assert not stored.data_files and not stored.schema_json
    assert "iceberg.mor_deletes" not in stored.properties
    # stats themselves persisted and served
    assert _json.loads(stored.properties[eng._STATS_PROP])[
        "row_count"] == 12
    # reads after ANALYZE still hydrate fresh and stay net
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 12


@pytest.mark.slow
def test_pointer_mor_export_does_not_persist_stale_stamp(spark,
                                                         tmp_path):
    """Review r12 pass-2 (empirically reproduced): exporting a hydrated
    MOR pointer persisted the snapshot-scoped mor stamp; when the
    pinned metadata was rewritten in place to a compacted estate, the
    destination replayed the OLD file list + deletes forever."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from olympia_spark.catalog.defs import read_def
    from olympia_spark.engine import Engine
    tdir = _mor_table(tmp_path)               # 15 rows, 3 pos-deletes
    eng = _pointer_engine(spark, tmp_path, tdir)
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 12
    dest = eng.export_reference_catalog(str(tmp_path / "dest"))
    deng = Engine(spark, dest)
    # destination def carries NO hydration-only properties
    txn = deng.catalog.begin(read_only=True)
    raw_path = deng.catalog.tree.search(
        txn.running_root, deng.catalog._tbl_key("lake", "t"))
    stored = read_def(deng.catalog.storage.read(raw_path), raw_path)
    assert "iceberg.mor_deletes" not in stored.properties
    assert deng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 12
    # compact IN PLACE: same metadata path, 13 net rows, no deletes
    from olympia_spark.catalog.defs import DataFile
    ddir = os.path.join(tdir, "data")
    cpath = os.path.join(ddir, "compacted.parquet")
    pq.write_table(pa.table({
        "id": pa.array(sorted(set(range(15)) - {1, 3, 10}) + [99],
                       pa.int64()),
        "val": pa.array([f"v{i}" for i in
                         sorted(set(range(15)) - {1, 3, 10}) + [99]],
                        pa.string())}), cpath)
    new_meta = il.export_iceberg_metadata(
        tdir, deng.read_table("lake.t").schema,
        [DataFile(path=cpath, num_rows=13,
                  size_bytes=os.path.getsize(cpath))])
    # rewrite the PINNED path in place (the defs point at
    # v3.metadata.json — the exact in-place-rewrite flow
    # test_pointer_hydration_sees_rewritten_metadata exercises)
    import shutil
    shutil.copyfile(new_meta,
                    os.path.join(tdir, "metadata", "v3.metadata.json"))
    # both catalogs serve the NEW snapshot — nothing replays the old
    assert deng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 13
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 13


@pytest.mark.slow
def test_pointer_mor_changefeed_never_resurrects(spark, tmp_path):
    """Review r12 pass-2: the change feed across pointer refreshes must
    diff NET relations — a file-diff over raw MOR files would emit
    events for rows that were never logically present (the position-
    deleted ids 1/3/10)."""
    import dataclasses

    import pyarrow as pa
    import pyarrow.parquet as pq

    from olympia_spark.catalog.defs import DataFile
    tdir = _mor_table(tmp_path)               # net ids: 0..14 − {1,3,10}
    eng = _pointer_engine(spark, tmp_path, tdir)
    v_from = eng.catalog.tree.find_latest_version()
    # new compacted metadata (same net rows + id 99), point the def at it
    tdir2 = str(tmp_path / "ice2")
    os.makedirs(os.path.join(tdir2, "metadata"))
    keep = sorted(set(range(15)) - {1, 3, 10}) + [99]
    cpath = os.path.join(tdir2, "c.parquet")
    pq.write_table(pa.table({
        "id": pa.array(keep, pa.int64()),
        "val": pa.array([f"v{i}" for i in keep], pa.string())}), cpath)
    m2 = il.export_iceberg_metadata(
        tdir2, eng.read_table("lake.t").schema,
        [DataFile(path=cpath, num_rows=len(keep),
                  size_bytes=os.path.getsize(cpath))])
    txn = eng.catalog.begin()
    cur = eng.catalog.describe_table(txn, "lake", "t")
    eng.catalog.alter_table(txn, "lake", "t", dataclasses.replace(
        cur, metadata_location=m2, data_files=[], schema_json="",
        properties={k: v for k, v in cur.properties.items()
                    if not k.startswith("iceberg.")}))
    eng.catalog.commit(txn)
    v_to = eng.catalog.tree.find_latest_version()
    changes = eng.table_changes("lake.t", v_from, v_to).collect()
    got = sorted((r.id, r._change_type) for r in changes)
    assert got == [(99, "insert")], got       # never ids 1/3/10


def test_pointer_stays_pointer_after_set_tblproperties(spark, tmp_path):
    """Review r12 pass-3: SET TBLPROPERTIES on an Iceberg pointer must
    not commit the hydrated def — the frozen file list would defeat
    hydration forever (the same class ANALYZE had)."""
    from olympia_spark.catalog.defs import read_def
    tdir = _mor_table(tmp_path)
    eng = _pointer_engine(spark, tmp_path, tdir)
    eng.sql("ALTER TABLE lake.t SET TBLPROPERTIES ('owner' = 'me')")
    txn = eng.catalog.begin(read_only=True)
    raw_path = eng.catalog.tree.search(
        txn.running_root, eng.catalog._tbl_key("lake", "t"))
    stored = read_def(eng.catalog.storage.read(raw_path), raw_path)
    assert stored.properties.get("owner") == "me"
    assert not stored.data_files and not stored.schema_json
    assert "iceberg.mor_deletes" not in stored.properties
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n == 12


def test_stale_identity_fill_property_is_rehydrated(spark, tmp_path):
    """Review r12 pass-3: a persisted (stale) iceberg.identity_fill on
    a pointer def must be overwritten by hydration, not setdefault-kept
    — an unpartitioned snapshot clears it entirely."""
    from olympia_spark.catalog.catalog import Catalog
    from olympia_spark.catalog.defs import TableDef
    tdir = _mor_table(tmp_path)
    wh = str(tmp_path / "stale_wh")
    cat = Catalog.create(wh, def_format="binpb")
    txn = cat.begin()
    cat.create_namespace(txn, "lake")
    cat.create_table(txn, "lake", "t", TableDef(
        format="ICEBERG", schema_json="",
        metadata_location=il.resolve_metadata_location(tdir),
        properties={"iceberg.identity_fill": "ghost_col"}))
    cat.commit(txn)
    tdef = cat.describe_table(cat.begin(read_only=True), "lake", "t")
    assert "iceberg.identity_fill" not in tdef.properties


def test_adopted_pin_survives_set_tblproperties(spark, tmp_path, ice_table):
    """Review r12 pass-4: _persistable must key on the HYDRATION
    marker, not on the format+pointer shape — an ADOPTED def's
    persisted file list IS its snapshot pin; an ALTER must not wipe it
    into a live pointer."""
    tdir, *_ = ice_table
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    n = eng.adopt_iceberg_table("lake.t", tdir, snapshot_id=1)
    before = eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n
    eng.sql("ALTER TABLE lake.t SET TBLPROPERTIES ('owner' = 'me')")
    txn = eng.catalog.begin(read_only=True)
    tdef = eng.catalog.describe_table(txn, "lake", "t")
    assert tdef.properties.get("owner") == "me"
    assert len(tdef.data_files) == n          # pin intact, not wiped
    assert eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n \
        == before


def test_adopted_pin_exports_with_files(spark, tmp_path, ice_table):
    """Review r12 pass-4: export keeps an ADOPTED def's pinned file
    list (only HYDRATED pointer defs export pointer-minimal)."""
    from olympia_spark.catalog.defs import read_def
    tdir, *_ = ice_table
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    n = eng.adopt_iceberg_table("lake.t", tdir, snapshot_id=1)
    dest = Engine(spark, eng.export_reference_catalog(
        str(tmp_path / "dest")))
    txn = dest.catalog.begin(read_only=True)
    raw_path = dest.catalog.tree.search(
        txn.running_root, dest.catalog._tbl_key("lake", "t"))
    stored = read_def(dest.catalog.storage.read(raw_path), raw_path)
    assert len(stored.data_files) == n
    assert dest.sql("SELECT COUNT(*) AS n FROM lake.t").first().n \
        == eng.sql("SELECT COUNT(*) AS n FROM lake.t").first().n


def test_changefeed_fills_identity_constants_for_departed_files(
        spark, tmp_path):
    """Review r12 pass-4: CDC scans departed files with the FROM
    version's file metadata — identity-fill constants must not read
    NULL (which would un-cancel exceptAll pairs and report every
    untouched row of a rewritten file as a spurious delete+insert)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T
    tdir = str(tmp_path / "icecdc")
    os.makedirs(os.path.join(tdir, "metadata"))
    # file omits the identity column 'region' (Hive-migration layout)
    p1 = os.path.join(tdir, "m1.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), p1)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("region", T.LongType())])
    mpath = il.export_iceberg_metadata(
        tdir, schema, [_F(p1, 3, os.path.getsize(p1))],
        partition_values={p1: {"region": 7}},
        partition_avro_types={"region": "long"})
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE lake")
    eng.adopt_iceberg_table("lake.c", mpath, as_native=True)
    v0 = eng.catalog.tree.find_latest_version()
    eng.sql("DELETE FROM lake.c WHERE id = 2")     # rewrites the file
    v1 = eng.catalog.tree.find_latest_version()
    ch = sorted((r.id, r.region, r._change_type) for r in
                eng.table_changes("lake.c", v0, v1).collect())
    # ONLY the deleted row appears, with its filled region — rows 1
    # and 3 cancel exactly (no NULL-region spurious pairs)
    assert ch == [(2, 7, "delete")], ch
