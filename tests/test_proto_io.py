"""Reference protobuf def-file interop (round 11, VERDICT r10 #4).

Covers three layers:
1. the hand-rolled proto3 wire codec — GOLDEN BYTES hand-derived from
   the proto3 encoding spec against the reference's defaults
   (ObjectDefinitions.java:33-48), plus an independent in-test wire
   walker that shares no code with the codec;
2. dataclass round-trips for every def type (nested schema types,
   maps, unknown-field skipping);
3. catalog-level: a .binpb catalog is created, mutated and reloaded
   with every def file staying reference-format, and a
   reference-style Iceberg POINTER table def hydrates at describe
   time and serves rows.
"""

from __future__ import annotations

import glob
import os

import pytest

from olympia_spark.catalog import proto_io as pio
from olympia_spark.catalog.catalog import Catalog
from olympia_spark.catalog.defs import (CatalogDef, DataFile,
                                        DistTransactionDef, NamespaceDef,
                                        TableDef, ViewDef)

# --- 1. golden wire bytes ------------------------------------------------------


def test_catalog_def_golden_bytes_reference_defaults():
    """CatalogDef with the reference's defaults
    (ObjectDefinitions.java:71-82: order 128, name maxes 100, node max
    1 MiB, ttl 3 days, SNAPSHOT isolation) — bytes hand-derived from
    the proto3 spec: proto3 omits default-valued scalars
    (major_version 0, isolation SNAPSHOT=0), varints are LEB128."""
    d = CatalogDef(id="c0ffee")
    got = pio.encode_catalog_def(d)
    expect = bytes([
        0x0A, 0x06, *b"c0ffee",          # 1: id
        0x18, 0x80, 0x01,                # 3: order = 128
        0x20, 0x64,                      # 4: ns name max = 100
        0x28, 0x64,                      # 5: table name max = 100
        0x30, 0x64,                      # 6: view name max = 100
        0x38, 0x80, 0x80, 0x40,          # 7: node max = 1048576
        0x48, 0x80, 0xA8, 0xCC, 0x7B,    # 9: ttl = 259200000 (3 days)
    ])
    assert got == expect
    back = pio.decode_catalog_def(got)
    assert back.order == 128 and back.txn_ttl_millis == 259_200_000
    assert back.txn_isolation_level == "SNAPSHOT"
    assert back.node_file_max_size_bytes == 1_048_576


def test_pointer_table_def_golden_bytes():
    """A reference-written table def is id + metadata location only
    (objects.proto:58-69; table_format ICEBERG=0 omitted per proto3)."""
    d = TableDef(id="t1", format="ICEBERG", schema_json="",
                 metadata_location="/tmp/m.metadata.json")
    got = pio.encode_table_def(d)
    expect = (bytes([0x0A, 0x02]) + b"t1"
              + bytes([0x22, 0x14]) + b"/tmp/m.metadata.json")
    assert got == expect
    back = pio.decode_table_def(got)
    assert back.format == "ICEBERG"
    assert back.metadata_location == "/tmp/m.metadata.json"
    assert back.data_files == [] and back.schema_json == ""


def test_namespace_def_golden_bytes_with_property():
    d = NamespaceDef(id="n1", properties={"owner": "ref"})
    got = pio.encode_namespace_def(d)
    expect = (bytes([0x0A, 0x02]) + b"n1"
              + bytes([0x12, 0x0C])            # 2: map entry, len 12
              + bytes([0x0A, 0x05]) + b"owner"
              + bytes([0x12, 0x03]) + b"ref")
    assert got == expect
    assert pio.decode_namespace_def(got).properties == {"owner": "ref"}


def _walk_wire(data: bytes) -> list[tuple[int, int, object]]:
    """Independent minimal proto3 walker (shares NO code with the
    codec): list of (field, wire_type, payload)."""
    out, pos = [], 0

    def vint(p):
        v = s = 0
        while True:
            b = data[p]
            p += 1
            v |= (b & 0x7F) << s
            if not b & 0x80:
                return v, p
            s += 7

    while pos < len(data):
        key, pos = vint(pos)
        f, w = key >> 3, key & 7
        if w == 0:
            v, pos = vint(pos)
            out.append((f, w, v))
        elif w == 2:
            ln, pos = vint(pos)
            out.append((f, w, bytes(data[pos:pos + ln])))
            pos += ln
        else:
            raise AssertionError(f"unexpected wire type {w}")
    return out


def test_encoded_fields_verified_by_independent_walker():
    d = CatalogDef(id="x", txn_isolation_level="SERIALIZABLE",
                   properties={"a": "1", "b": "2"},
                   exported_snapshots={"snap": "vn/000"})
    fields = _walk_wire(pio.encode_catalog_def(d))
    by_num = {}
    for f, _w, v in fields:
        by_num.setdefault(f, []).append(v)
    assert by_num[1] == [b"x"]
    assert by_num[10] == [1]                       # SERIALIZABLE
    assert len(by_num[8]) == 2 and len(by_num[11]) == 1
    # map entry payloads are themselves {1: key, 2: value} messages
    entry = _walk_wire(by_num[11][0])
    assert (1, 2, b"snap") in entry and (2, 2, b"vn/000") in entry
    # ascending field order (protobuf-java canonical serialization)
    nums = [f for f, _w, _v in fields]
    assert nums == sorted(nums)


def test_unknown_fields_skipped_all_wire_types():
    base = pio.encode_namespace_def(NamespaceDef(id="k"))
    # append unknown fields 12-15 covering every wire type we must
    # skip: varint, len-delim, fixed64, fixed32
    extra = (bytes([15 << 3 | 0, 0x7F])
             + bytes([14 << 3 | 2, 0x03]) + b"abc"
             + bytes([13 << 3 | 1]) + b"\x01" * 8
             + bytes([12 << 3 | 5]) + b"\x02" * 4)
    back = pio.decode_namespace_def(base + extra)
    assert back.id == "k" and back.properties == {}


# --- 2. dataclass round-trips --------------------------------------------------


def test_native_table_def_round_trips_losslessly():
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StructType([
            T.StructField("a", T.StringType()),
            T.StructField("b", T.ArrayType(T.DoubleType()))])),
        T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
    ])
    d = TableDef(
        id="tid", format="PARQUET", schema_json=schema.json(),
        data_files=[DataFile(path="data/a/b/f1.parquet", num_rows=10,
                             size_bytes=999, stats={"k": [1, 9]},
                             dir_files=2)],
        partition_by=["k"], column_mapping={"k": "k0"},
        retired_columns=["old"], constraints={"c1": "k > 0"},
        generated_columns={"g": "k + 1"},
        bucket_by={"columns": ["k"], "num_buckets": 8},
        properties={"p": "v"}, metadata_location="m1",
        previous_metadata_location="m0")
    back = pio.decode_table_def(pio.encode_table_def(d))
    assert back == d


def test_view_def_round_trips_with_nested_schema():
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("n", T.IntegerType(), False),
        T.StructField("arr", T.ArrayType(
            T.StructType([T.StructField("x", T.DateType())])), True),
    ])
    d = ViewDef(id="v1", sql_text="SELECT 1 AS n", plan_ir_json="{}",
                schema_json=schema.json(), default_namespace="ns1",
                referenced_objects=["ns1.t1", "ns2.t2"],
                schema_binding=True, properties={"comment": "hi"})
    back = pio.decode_view_def(pio.encode_view_def(d))
    # nullability survives; nested types map through the Olympia enum
    # (INT4/DATE/LIST/STRUCT), so exact type identity is asserted
    assert back.schema_json == d.schema_json
    assert back.sql_text == d.sql_text
    assert back.referenced_objects == d.referenced_objects
    assert back.schema_binding and back.default_namespace == "ns1"
    assert back.properties == d.properties


def test_reference_view_def_substrait_payload_preserved():
    """A view written by the reference carries Substrait bytes we can't
    execute — they must survive a decode/encode round-trip bit-exact
    (documented deviation: preserved, not executable)."""
    raw = pio.encode_message("ViewDef", {
        "id": "rv", "schema_binding": 1,
        "substrait_read_rel": b"\x01\x02\xFF substrait"})
    v = pio.decode_view_def(raw)
    assert v.sql_text == ""            # nothing executable
    assert pio.encode_view_def(v) == raw


def test_dist_txn_round_trip_and_reference_parse_of_actions_field():
    d = DistTransactionDef(
        id="dt1", isolation_level="SERIALIZABLE",
        beginning_root_path="vn/0", running_root_path="node/x.arrow",
        began_at_millis=123, expire_at_millis=456,
        actions=[["k1", "{\"type\": \"TABLE_CREATE\"}"]])
    enc = pio.encode_dist_txn_def(d)
    assert pio.decode_dist_txn_def(enc) == d
    # the reference's parser (objects.proto:89-96) would skip field 100:
    # the walker sees it as an ordinary unknown length-delimited field
    # and the REMAINING fields decode to the same values
    fields = {f: v for f, _w, v in _walk_wire(enc)}
    assert fields[1] == b"dt1" and fields[2] == 1
    assert fields[5] == 123 and fields[6] == 456
    assert 100 in fields               # our extension rides along


def test_varint_negative_refused():
    with pytest.raises(ValueError, match="negative"):
        pio.encode_message("CatalogDef", {"order": -1})


# n=0 is deliberately absent: proto3 cannot distinguish 0 from unset,
# and decode applies the reference's parse-time default (1 MiB) there —
# pinned by test_reference_defaults_applied_to_sparse_catalog_def
@pytest.mark.parametrize("n", [1, 127, 128, 300, 2 ** 21,
                               2 ** 32 - 1, 2 ** 63 - 1])
def test_varint_boundaries_round_trip(n):
    d = CatalogDef(id="b", node_file_max_size_bytes=n)
    assert pio.decode_catalog_def(
        pio.encode_catalog_def(d)).node_file_max_size_bytes == n


def test_hypothesis_namespace_def_round_trip():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    text = st.text(min_size=0, max_size=40)

    @settings(max_examples=150, deadline=None)
    @given(st.text(min_size=1, max_size=60),
           st.dictionaries(text.filter(bool), text, max_size=8))
    def check(nid, props):
        d = NamespaceDef(id=nid, properties=props)
        assert pio.decode_namespace_def(
            pio.encode_namespace_def(d)) == d

    check()


# --- 3. catalog level -----------------------------------------------------------


def _def_files(root: str) -> list[str]:
    return [p for p in glob.glob(os.path.join(root, "def", "**", "*"),
                                 recursive=True) if os.path.isfile(p)]


def test_binpb_catalog_end_to_end(spark, tmp_path):
    """A def_format='binpb' catalog: every def file written by DDL/DML
    through the ENGINE carries the reference suffix + parses with the
    proto codec; reload from disk round-trips; values are exact."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    wh = str(tmp_path / "refwh")
    Catalog.create(wh, def_format="binpb")
    eng = Engine(spark, wh)
    eng.sql("CREATE NAMESPACE interop")
    eng.sql("CREATE TABLE interop.t (k BIGINT, v DOUBLE)")
    eng.write_table(
        spark.range(20).select(F.col("id").alias("k"),
                               (F.col("id") * 0.5).alias("v")),
        "interop.t")
    eng.sql("DELETE FROM interop.t WHERE k >= 15")
    eng.sql("CREATE VIEW interop.w AS SELECT k FROM interop.t "
            "WHERE k < 5")
    files = _def_files(wh)
    assert files and all(f.endswith(".binpb") for f in files)
    # every def parses with the proto codec (path-dispatched)
    for f in files:
        rel = os.path.relpath(f, wh)
        obj = pio.decode_def(open(f, "rb").read(), rel)
        assert obj is not None
    # a FRESH process view (reload from disk only)
    eng2 = Engine(spark, wh)
    assert eng2.catalog.def_suffix == ".binpb"
    got = eng2.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM interop.t") \
        .first()
    assert (got.n, got.s) == (15, sum(i * 0.5 for i in range(15)))
    assert eng2.sql("SELECT COUNT(*) AS n FROM interop.w").first().n == 5


def test_binpb_catalog_dist_txn_save_load(tmp_path):
    wh = str(tmp_path / "refwh2")
    cat = Catalog.create(wh, def_format="binpb")
    txn = cat.begin()
    cat.create_namespace(txn, "n1", {"p": "1"})
    path = cat.save_dist_transaction(txn)
    assert path.endswith(".binpb")
    txn_id = txn.id
    assert cat.dist_transaction_exists(txn_id)
    assert txn_id in cat.list_dist_transactions()
    resumed = cat.load_dist_transaction(txn_id)
    cat.commit(resumed)
    probe = cat.begin(read_only=True)
    assert cat.describe_namespace(probe, "n1").properties == {"p": "1"}
    dtxn_files = glob.glob(os.path.join(wh, "def", "dtxn", "*"))
    assert dtxn_files and all(f.endswith(".binpb") for f in dtxn_files)


def test_reference_pointer_table_def_hydrates_and_reads(spark, tmp_path):
    """THE interop read path: a catalog whose table def is exactly what
    the Java reference writes (id + iceberg_metadata_location, binpb)
    serves rows in place — describe_table hydrates schema + files from
    the Iceberg metadata."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    # 1. a native engine exports one of its tables as Iceberg metadata
    src_wh = str(tmp_path / "srcwh")
    src = Engine(spark, src_wh)
    src.sql("CREATE NAMESPACE s")
    src.sql("CREATE TABLE s.t (k BIGINT, v DOUBLE)")
    src.write_table(
        spark.range(30).select(F.col("id").alias("k"),
                               (F.col("id") * 2.0).alias("v")), "s.t")
    mloc = src.export_iceberg_table("s.t", str(tmp_path / "ice"))
    # 2. a reference-format catalog holding ONLY the pointer def
    ref_wh = str(tmp_path / "refwh3")
    cat = Catalog.create(ref_wh, def_format="binpb")
    txn = cat.begin()
    cat.create_namespace(txn, "adopted")
    cat.create_table(txn, "adopted", "t",
                     TableDef(format="ICEBERG", schema_json="",
                              metadata_location=mloc))
    cat.commit(txn)
    # the stored def is pointer-minimal (no ext property)
    tdef_file = glob.glob(
        os.path.join(ref_wh, "def", "table", "*.binpb"))[0]
    stored = pio.decode_table_def(open(tdef_file, "rb").read())
    assert stored.metadata_location == mloc
    assert "olympia-spark.table_ext" not in stored.properties
    # 3. read it in place through a fresh engine
    eng = Engine(spark, ref_wh)
    got = eng.sql(
        "SELECT COUNT(*) AS n, SUM(v) AS s FROM adopted.t").first()
    assert (got.n, got.s) == (30, sum(i * 2.0 for i in range(30)))
    got2 = eng.sql("SELECT v FROM adopted.t WHERE k = 7").first()
    assert got2.v == 14.0


def test_export_reference_catalog_round_trip(spark, tmp_path):
    """The OUTBOUND interop half: export_reference_catalog mirrors a
    JSON catalog into a .binpb warehouse (zero data movement — files
    referenced in place), and a fresh engine at the destination serves
    identical table, view and bucketed-table values."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    src = Engine(spark, str(tmp_path / "json_wh"))
    src.sql("CREATE NAMESPACE ex")
    src.sql("CREATE TABLE ex.t (k BIGINT, v DOUBLE)")
    src.write_table(
        spark.range(40).select(F.col("id").alias("k"),
                               (F.col("id") * 1.5).alias("v")), "ex.t")
    src.sql("CREATE TABLE ex.bk (k BIGINT, v DOUBLE) "
            "CLUSTERED BY (k) INTO 4 BUCKETS")
    src.write_table(
        spark.range(10).select(F.col("id").alias("k"),
                               F.lit(2.0).alias("v")), "ex.bk")
    src.sql("CREATE VIEW ex.w AS SELECT k FROM ex.t WHERE k < 10")
    dest_dir = src.export_reference_catalog(str(tmp_path / "ref_out"))
    files = _def_files(dest_dir)
    assert files and all(f.endswith(".binpb") for f in files)
    eng = Engine(spark, dest_dir)
    got = eng.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM ex.t").first()
    assert (got.n, got.s) == (40, sum(i * 1.5 for i in range(40)))
    assert eng.sql("SELECT COUNT(*) AS n FROM ex.w").first().n == 10
    # bucketed spec survives; values exact through the plain-scan lane
    tdef = eng.catalog.describe_table(
        eng.catalog.begin(read_only=True), "ex", "bk")
    assert tdef.bucket_by == {"columns": ["k"], "num_buckets": 4}
    assert eng.sql("SELECT SUM(v) AS s FROM ex.bk").first().s == 20.0
    # the source is untouched and still serves its own reads
    assert src.sql("SELECT COUNT(*) AS n FROM ex.t").first().n == 40


def test_export_reference_catalog_keeps_iceberg_pointers(spark, tmp_path):
    """A pointer table stays a POINTER in the exported catalog (the
    reference's own TableDef shape), not a materialized file list."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    src_wh = str(tmp_path / "srcwh")
    src = Engine(spark, src_wh)
    src.sql("CREATE NAMESPACE s")
    src.sql("CREATE TABLE s.t (k BIGINT)")
    src.write_table(spark.range(5).select(F.col("id").alias("k")), "s.t")
    mloc = src.export_iceberg_table("s.t", str(tmp_path / "ice"))
    ref_wh = str(tmp_path / "ptr_wh")
    cat = Catalog.create(ref_wh)
    txn = cat.begin()
    cat.create_namespace(txn, "p")
    cat.create_table(txn, "p", "t",
                     TableDef(format="ICEBERG", schema_json="",
                              metadata_location=mloc))
    cat.commit(txn)
    eng = Engine(spark, ref_wh)
    out = eng.export_reference_catalog(str(tmp_path / "ptr_out"))
    tdef_file = glob.glob(os.path.join(out, "def", "table", "*.binpb"))[0]
    stored = pio.decode_table_def(open(tdef_file, "rb").read())
    assert stored.metadata_location == mloc
    assert stored.data_files == [] and stored.schema_json == ""
    assert Engine(spark, out).sql(
        "SELECT COUNT(*) AS n FROM p.t").first().n == 5


def test_binpb_catalog_on_object_store(spark, tmp_path):
    """The reference's premise is def files ON OBJECT STORAGE — a
    binpb catalog over the S3 storage abstraction (moto) must write
    every def as a .binpb object, survive a cache-wiped reload (all
    bytes re-fetched from the store), and keep serving exact values.
    Also composes with the bucketed layout: TableDef.bucket_by
    round-trips through the proto ext property."""
    moto = pytest.importorskip("moto")
    boto3 = pytest.importorskip("boto3")
    import os
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    os.environ.setdefault("AWS_DEFAULT_REGION", "us-east-1")
    m = moto.mock_aws()
    m.start()
    try:
        bucket = f"wh-{_uuid.uuid4().hex[:12]}"
        s3 = boto3.client("s3", region_name="us-east-1")
        s3.create_bucket(Bucket=bucket)
        from olympia_spark.catalog.storage import storage_for
        Catalog.create(storage_for(f"s3://{bucket}/lake"),
                       def_format="binpb")
        eng = Engine(spark, f"s3://{bucket}/lake")
        eng.sql("CREATE NAMESPACE s3ns")
        eng.sql("CREATE TABLE s3ns.t (k BIGINT, v DOUBLE) "
                "CLUSTERED BY (k) INTO 4 BUCKETS")
        eng.write_table(
            spark.range(25).select(F.col("id").alias("k"),
                                   (F.col("id") * 3.0).alias("v")),
            "s3ns.t")
        eng.sql("DELETE FROM s3ns.t WHERE k >= 20")
        # every def object in the store is .binpb
        keys = [o["Key"] for o in s3.list_objects_v2(
            Bucket=bucket, Prefix="lake/def/")["Contents"]]
        assert keys and all(k.endswith(".binpb") for k in keys)
        # different machine: wipe the read cache, reload from the store
        shutil.rmtree(eng.catalog.storage.cache_dir, ignore_errors=True)
        eng2 = Engine(spark, f"s3://{bucket}/lake")
        assert eng2.catalog.def_suffix == ".binpb"
        tdef = eng2.catalog.describe_table(
            eng2.catalog.begin(read_only=True), "s3ns", "t")
        assert tdef.bucket_by == {"columns": ["k"], "num_buckets": 4}
        got = eng2.sql(
            "SELECT COUNT(*) AS n, SUM(v) AS s FROM s3ns.t").first()
        assert (got.n, got.s) == (20, sum(i * 3.0 for i in range(20)))
    finally:
        m.stop()


def test_export_hive_partitioned_table_fills_partition_values(
        spark, tmp_path):
    """Review r11 finding #1 (silent wrong data): exported
    hive-partitioned tables re-point their files via ABSOLUTE paths —
    layout-opaque at the destination — so the partition values must
    ride as per-file metadata constants (identity_fill over the exact
    [v,v] stats), never read as NULL. Also covers the mixed-era fill:
    a destination-side APPEND creates a relative hive era next to the
    absolute files, and BOTH must serve exact partition values."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    src = Engine(spark, str(tmp_path / "hive_src"))
    src.sql("CREATE NAMESPACE h")
    src.sql("CREATE TABLE h.t (id BIGINT, src STRING, d DATE) "
            "PARTITIONED BY (src, d)")
    df = spark.range(40).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
        .alias("src"),
        F.when(F.col("id") < 20, F.lit("2024-01-01"))
        .otherwise(F.lit("2024-01-02")).cast("date").alias("d"))
    src.write_table(df, "h.t")
    out = src.export_reference_catalog(str(tmp_path / "hive_out"))
    eng = Engine(spark, out)
    got = eng.sql("SELECT src, COUNT(*) AS n FROM h.t "
                  "GROUP BY src ORDER BY src").collect()
    assert [(r.src, r.n) for r in got] == [("even", 20), ("odd", 20)]
    assert eng.sql("SELECT COUNT(*) AS n FROM h.t "
                   "WHERE src = 'even' AND d = DATE'2024-01-01'") \
        .first().n == 10
    assert eng.sql("SELECT COUNT(*) AS n FROM h.t WHERE src IS NULL") \
        .first().n == 0
    # destination-side append → mixed eras (absolute + relative hive)
    eng.write_table(
        spark.range(40, 50).select(
            F.col("id"), F.lit("even").alias("src"),
            F.lit("2024-01-03").cast("date").alias("d")), "h.t")
    assert eng.sql("SELECT COUNT(*) AS n FROM h.t WHERE src = 'even'") \
        .first().n == 30
    assert eng.sql("SELECT COUNT(*) AS n FROM h.t WHERE src IS NULL") \
        .first().n == 0


def test_export_refuses_unfaithful_partition_stat(spark, tmp_path):
    """A STRING partition value the stat parser coerced to a number
    ('0123' would re-derive as '123') must refuse export loudly, never
    silently corrupt."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    src = Engine(spark, str(tmp_path / "badhive"))
    src.sql("CREATE NAMESPACE h")
    src.sql("CREATE TABLE h.z (id BIGINT, code STRING) "
            "PARTITIONED BY (code)")
    src.write_table(
        spark.range(4).select(F.col("id"), F.lit("0123").alias("code")),
        "h.z")
    with pytest.raises(ValueError, match="stat-typed as a number"):
        src.export_reference_catalog(str(tmp_path / "bad_out"))


def test_annotated_pointer_def_round_trips_extras():
    """Review r11 finding: a pointer def carrying extras (bucket spec,
    constraints) must keep them through a binpb round trip."""
    d = TableDef(format="ICEBERG", metadata_location="/m.metadata.json",
                 bucket_by={"columns": ["k"], "num_buckets": 4},
                 constraints={"c": "k > 0"})
    back = pio.decode_table_def(pio.encode_table_def(d))
    assert back.bucket_by == d.bucket_by
    assert back.constraints == d.constraints
    assert back.format == "ICEBERG"
    assert back.metadata_location == d.metadata_location


def test_reference_defaults_applied_to_sparse_catalog_def():
    """Review r11 finding: a CatalogDef omitting its sizing fields
    (proto3 defaults) must decode to the reference's documented
    defaults, not an unusable order-0 / max-0 catalog."""
    raw = pio.encode_message("CatalogDef", {"id": "sparse"})
    d = pio.decode_catalog_def(raw)
    assert d.order == 128
    assert d.namespace_name_max_size_bytes == 100
    assert d.table_name_max_size_bytes == 100
    assert d.view_name_max_size_bytes == 100
    assert d.node_file_max_size_bytes == 1_048_576
    assert d.txn_ttl_millis == 259_200_000


def test_unknown_enum_values_fall_back_not_crash():
    """proto3 enums are open — an unknown isolation level from a newer
    writer decodes to the 0-default, not an IndexError."""
    raw = pio.encode_message("CatalogDef",
                             {"id": "x", "txn_isolation_level": 7})
    assert pio.decode_catalog_def(raw).txn_isolation_level == "SNAPSHOT"
    raw2 = pio.encode_message("DistributedTransactionDef",
                              {"id": "y", "isolation_level": 9})
    assert pio.decode_dist_txn_def(raw2).isolation_level == "SNAPSHOT"


def test_view_schema_exact_through_binpb():
    """Review r11 finding: schema-BOUND views must keep their exact
    bound schema (decimal precision included) through the binpb lane —
    the lossy proto Schema projection must not replace it."""
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("s", T.DecimalType(35, 6))])
    d = ViewDef(id="v", sql_text="SELECT 1", schema_json=schema.json(),
                schema_binding=True)
    back = pio.decode_view_def(pio.encode_view_def(d))
    assert back.schema_json == schema.json()


def test_mixed_suffix_dtxn_loads(tmp_path):
    """Review r11 finding: a dtxn handle saved under the OTHER def
    format (reference writer into our .json catalog) must be listed
    AND loadable — a listed-but-unloadable handle broke sys.dtxns and
    let GC treat a live transaction's files as unpinned."""
    from olympia_spark.catalog import locations as loc
    from olympia_spark.catalog import proto_io as pio2
    wh = str(tmp_path / "mixed")
    cat = Catalog.create(wh)                       # .json catalog
    txn = cat.begin()
    cat.create_namespace(txn, "m")
    path = cat.save_dist_transaction(txn)
    assert path.endswith(".json")
    # simulate a reference writer: re-encode the handle as .binpb and
    # drop the .json copy
    d = pio2.decode_dist_txn_def  # noqa: F841 — codec sanity only
    from olympia_spark.catalog.defs import read_def
    handle = read_def(cat.storage.read(path), path)
    bpath = loc.dist_txn_def_path(txn.id, loc.BINPB_FILE_SUFFIX)
    cat.storage.overwrite(bpath, pio2.encode_dist_txn_def(handle))
    cat.storage.delete(path)
    assert txn.id in cat.list_dist_transactions()
    assert cat.dist_transaction_exists(txn.id)
    resumed = cat.load_dist_transaction(txn.id)
    cat.commit(resumed)
    probe = cat.begin(read_only=True)
    assert cat.describe_namespace(probe, "m") is not None
    # a FRESH handle takes the catalog's own format
    txn2 = cat.begin()
    cat.create_namespace(txn2, "m2")
    assert cat.save_dist_transaction(txn2).endswith(".json")


def test_export_null_partition_values_read_null(spark, tmp_path):
    """Review r11 pass-2 #1: NULL partition values
    (__HIVE_DEFAULT_PARTITION__ dirs) export as files with NO constant
    for the column — the destination reads NULL, never the sentinel
    string or a fill crash."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    src = Engine(spark, str(tmp_path / "null_src"))
    src.sql("CREATE NAMESPACE h")
    src.sql("CREATE TABLE h.n (id BIGINT, src STRING) "
            "PARTITIONED BY (src)")
    src.write_table(
        spark.range(10).select(
            F.col("id"),
            F.when(F.col("id") < 4, F.lit(None).cast("string"))
            .otherwise(F.lit("a")).alias("src")), "h.n")
    out = src.export_reference_catalog(str(tmp_path / "null_out"))
    eng = Engine(spark, out)
    assert eng.sql("SELECT COUNT(*) AS n FROM h.n WHERE src IS NULL") \
        .first().n == 4
    assert eng.sql("SELECT COUNT(*) AS n FROM h.n WHERE src = 'a'") \
        .first().n == 6
    assert eng.sql("SELECT COUNT(*) AS n FROM h.n "
                   "WHERE src = '__HIVE_DEFAULT_PARTITION__'") \
        .first().n == 0


def test_both_suffix_dtxn_refuses_ambiguity(tmp_path):
    """Review r11 pass-2 #3: a handle present under BOTH suffixes is an
    ambiguous mixed-writer state — resuming either copy silently could
    discard the other's progress; the catalog refuses loudly and the
    listing stays deduplicated."""
    from olympia_spark.catalog import locations as loc
    from olympia_spark.catalog import proto_io as pio2
    from olympia_spark.catalog.defs import read_def
    from olympia_spark.catalog.errors import TransactionValueError
    wh = str(tmp_path / "dup")
    cat = Catalog.create(wh)
    txn = cat.begin()
    cat.create_namespace(txn, "m")
    path = cat.save_dist_transaction(txn)
    handle = read_def(cat.storage.read(path), path)
    cat.storage.overwrite(
        loc.dist_txn_def_path(txn.id, loc.BINPB_FILE_SUFFIX),
        pio2.encode_dist_txn_def(handle))
    assert cat.list_dist_transactions().count(txn.id) == 1
    with pytest.raises(TransactionValueError, match="BOTH"):
        cat.load_dist_transaction(txn.id)
    # ADVICE r11: the existence PREDICATE answers on the non-raising
    # surface — an ambiguous handle exists; only load/save refuse
    assert cat.dist_transaction_exists(txn.id)


def test_pointer_hydration_sees_rewritten_metadata(spark, tmp_path):
    """Review r11 pass-2 #2: metadata at a FIXED path can be rewritten
    in place (our own export_iceberg_table always writes
    v1.metadata.json) — the hydration cache must key on file identity
    (mtime+size), so a re-export at the same destination serves the NEW
    snapshot, not the memoized old one."""
    from pyspark.sql import functions as F

    from olympia_spark.engine import Engine
    src = Engine(spark, str(tmp_path / "grow_src"))
    src.sql("CREATE NAMESPACE s")
    src.sql("CREATE TABLE s.t (k BIGINT)")
    src.write_table(spark.range(5).select(F.col("id").alias("k")), "s.t")
    ice = str(tmp_path / "ice")
    mloc = src.export_iceberg_table("s.t", ice)
    ref_wh = str(tmp_path / "ptr")
    cat = Catalog.create(ref_wh)
    txn = cat.begin()
    cat.create_namespace(txn, "p")
    cat.create_table(txn, "p", "t",
                     TableDef(format="ICEBERG", schema_json="",
                              metadata_location=mloc))
    cat.commit(txn)
    eng = Engine(spark, ref_wh)
    assert eng.sql("SELECT COUNT(*) AS n FROM p.t").first().n == 5
    # the table grows; the export REWRITES the same metadata path
    src.write_table(spark.range(5, 12).select(F.col("id").alias("k")),
                    "s.t")
    mloc2 = src.export_iceberg_table("s.t", ice)
    assert mloc2 == mloc                     # same path, new content
    assert eng.sql("SELECT COUNT(*) AS n FROM p.t").first().n == 12


def test_gc_protects_ambiguous_dtxn_files(spark, tmp_path):
    """Review r11 pass-3 #1 (data loss): remove_orphan_files must pin
    the running roots of EVERY copy of a both-suffix dist-txn handle —
    the resume-time ambiguity refusal must never route into GC's
    catch-and-continue and delete a live transaction's files."""
    from pyspark.sql import functions as F

    from olympia_spark.catalog import locations as loc
    from olympia_spark.catalog import proto_io as pio2
    from olympia_spark.catalog.defs import read_def
    from olympia_spark.engine import Engine
    eng = Engine(spark, str(tmp_path / "gcwh"))
    eng.sql("CREATE NAMESPACE g")
    eng.sql("CREATE TABLE g.t (k BIGINT)")
    eng.sql("BEGIN")
    eng.sql("INSERT INTO g.t VALUES (1), (2), (3)")
    txn_id = eng.begin_dist()                 # saved, uncommitted
    eng.current_txn = None                    # detach (another process)
    cat = eng.catalog
    path = loc.dist_txn_def_path(txn_id, cat.def_suffix)
    handle = read_def(cat.storage.read(path), path)
    # mixed-format writer leaves a second copy
    cat.storage.overwrite(
        loc.dist_txn_def_path(txn_id, loc.BINPB_FILE_SUFFIX),
        pio2.encode_dist_txn_def(handle))
    removed = eng.remove_orphan_files()
    assert removed == []                      # the txn's files survive
    # observability still serves the ambiguous handle
    assert eng._sys_dtxns_df().filter(
        F.col("txn_id") == txn_id).count() == 1
    # and resume still refuses until the duplicate is deleted
    from olympia_spark.catalog.errors import TransactionValueError
    with pytest.raises(TransactionValueError, match="BOTH"):
        cat.load_dist_transaction(txn_id)
    cat.storage.delete(
        loc.dist_txn_def_path(txn_id, loc.BINPB_FILE_SUFFIX))
    eng.resume_dist(txn_id)
    eng.sql("COMMIT")
    assert eng.sql("SELECT COUNT(*) AS n FROM g.t").first().n == 3


def test_hypothesis_table_def_round_trip():
    """Property fuzz over the FULL TableDef surface (paths, stats with
    mixed int/float/str bounds, mappings, constraints, bucket specs) —
    every generated def must survive encode→decode bit-faithfully."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    text = st.text(min_size=0, max_size=30)
    word = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1, max_size=20)
    scalar = st.one_of(st.integers(min_value=-2**40, max_value=2**40),
                       st.floats(allow_nan=False, allow_infinity=False,
                                 width=32),
                       text)
    data_file = st.builds(
        DataFile,
        path=word,
        num_rows=st.integers(min_value=-1, max_value=2**40),
        size_bytes=st.integers(min_value=-1, max_value=2**40),
        stats=st.dictionaries(
            word, st.tuples(scalar, scalar).map(list), max_size=4),
        dir_files=st.integers(min_value=-1, max_value=64))

    @settings(max_examples=120, deadline=None)
    @given(st.builds(
        TableDef,
        id=word,
        format=st.sampled_from(["PARQUET", "ICEBERG", "CSV", "JSON"]),
        schema_json=st.sampled_from(["", '{"fields":[],"type":"struct"}']),
        data_files=st.lists(data_file, max_size=3),
        partition_by=st.lists(word, max_size=3),
        column_mapping=st.dictionaries(word, word, max_size=3),
        retired_columns=st.lists(word, max_size=3),
        constraints=st.dictionaries(word, text, max_size=3),
        generated_columns=st.dictionaries(word, text, max_size=3),
        bucket_by=st.one_of(
            st.just({}),
            st.fixed_dictionaries({"columns": st.lists(word, min_size=1,
                                                       max_size=2),
                                   "num_buckets": st.integers(2, 64)})),
        properties=st.dictionaries(word, text, max_size=4),
        metadata_location=text,
        previous_metadata_location=text))
    def check(d):
        assert pio.decode_table_def(pio.encode_table_def(d)) == d

    check()


def test_hypothesis_dist_txn_round_trip():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    text = st.text(min_size=0, max_size=40)

    @settings(max_examples=120, deadline=None)
    @given(st.builds(
        DistTransactionDef,
        id=st.text(min_size=1, max_size=40),
        isolation_level=st.sampled_from(["SNAPSHOT", "SERIALIZABLE"]),
        beginning_root_path=text,
        running_root_path=text,
        began_at_millis=st.integers(0, 2**50),
        expire_at_millis=st.integers(0, 2**50),
        actions=st.lists(st.tuples(text, text).map(list), max_size=4)))
    def check(d):
        assert pio.decode_dist_txn_def(pio.encode_dist_txn_def(d)) == d

    check()
