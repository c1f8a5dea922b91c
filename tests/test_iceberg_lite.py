"""Jar-less Iceberg read path (sources/iceberg_lite + sources/avro_lite).

The Avro decoder is anchored against HAND-DERIVED bytes written straight
from the public Avro spec — not against this repo's own encoder — so a
symmetric spec misreading cannot self-validate.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pandas as pd
import pytest

from immich_geodata_zh_tw_spark.sources import avro_lite, iceberg_lite


class TestZigzag:
    def test_spec_table(self):
        """The zig-zag examples published in the Avro spec itself."""
        for n, b in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                     (-2, b"\x03"), (2, b"\x04"), (-64, b"\x7f"),
                     (64, b"\x80\x01"),
                     (2147483647, b"\xfe\xff\xff\xff\x0f"),
                     (-2147483648, b"\xff\xff\xff\xff\x0f")]:
            assert avro_lite.zigzag_encode(n) == b, n
            got, pos = avro_lite.zigzag_decode(b, 0)
            assert got == n and pos == len(b), n


class TestAvroContainer:
    def test_hand_derived_container_bytes(self):
        """Decode a container whose every byte is written by hand from the
        spec: magic, metadata map (2 entries), sync, one block of two
        records of ``{name: string, id: long}``, codec null."""
        schema_json = ('{"type":"record","name":"t","fields":['
                       '{"name":"name","type":"string"},'
                       '{"name":"id","type":"long"}]}').encode()
        codec = b"null"
        sync = bytes(range(16))

        def z(n):  # spec zigzag+varint for small non-negative ints: value
            # n becomes u = n<<1, emitted little-endian in 7-bit groups
            # with the high bit marking continuation
            assert 0 <= n < 8192
            u = n << 1
            return (bytes([u]) if u < 128
                    else bytes([(u & 0x7F) | 0x80, u >> 7]))

        meta = (z(2)
                + z(len(b"avro.schema")) + b"avro.schema"
                + z(len(schema_json)) + schema_json
                + z(len(b"avro.codec")) + b"avro.codec"
                + z(len(codec)) + codec
                + z(0))
        # records: ("ab", 1) and ("c", -3); zigzag(1)=0x02, zigzag(-3)=0x05
        payload = (z(2) + b"ab" + b"\x02") + (z(1) + b"c" + b"\x05")
        buf = (b"Obj\x01" + meta + sync
               + z(2) + z(len(payload)) + payload + sync)

        _, records = avro_lite.read_container(buf)
        assert records == [{"name": "ab", "id": 1}, {"name": "c", "id": -3}]

    def test_round_trip_full_type_set(self, tmp_path):
        schema = {
            "type": "record", "name": "top", "fields": [
                {"name": "s", "type": "string"},
                {"name": "i", "type": "int"},
                {"name": "l", "type": "long"},
                {"name": "f", "type": "float"},
                {"name": "d", "type": "double"},
                {"name": "b", "type": "boolean"},
                {"name": "by", "type": "bytes"},
                {"name": "opt", "type": ["null", "long"]},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
                {"name": "mp", "type": {"type": "map", "values": "string"}},
                {"name": "en", "type": {"type": "enum", "name": "e",
                                        "symbols": ["A", "B"]}},
                {"name": "fx", "type": {"type": "fixed", "name": "fx8",
                                        "size": 4}},
                {"name": "nested", "type": {
                    "type": "record", "name": "inner", "fields": [
                        {"name": "x", "type": "long"}]}},
            ]}
        rows = [
            {"s": "héllo", "i": -42, "l": 1 << 40, "f": 0.5, "d": -2.25,
             "b": True, "by": b"\x00\xff", "opt": None, "arr": [1, -2, 3],
             "mp": {"k": "v", "k2": "v2"}, "en": "B", "fx": b"abcd",
             "nested": {"x": 7}},
            {"s": "", "i": 0, "l": -1, "f": 2.0, "d": 0.0, "b": False,
             "by": b"", "opt": 99, "arr": [], "mp": {}, "en": "A",
             "fx": b"zzzz", "nested": {"x": -7}},
        ]
        for codec in ("null", "deflate"):
            p = str(tmp_path / f"t_{codec}.avro")
            avro_lite.write_container(p, schema, rows, codec=codec)
            _, got = avro_lite.read_container(p)
            assert got == rows, codec

    def test_dict_form_named_type_reference(self, tmp_path):
        """{"type": "<defined-name>"} is a legal named-type reference per
        the Avro spec (a name is a valid `type` value) — other writers'
        manifests use it; it must resolve like the bare-string form."""
        schema = {
            "type": "record", "name": "top", "fields": [
                {"name": "a", "type": {
                    "type": "record", "name": "r102", "fields": [
                        {"name": "x", "type": "long"}]}},
                {"name": "b", "type": {"type": "r102"}},   # dict-form ref
                {"name": "c", "type": ["null", {"type": "r102"}]},
            ]}
        rows = [{"a": {"x": 1}, "b": {"x": 2}, "c": {"x": 3}},
                {"a": {"x": -1}, "b": {"x": -2}, "c": None}]
        p = str(tmp_path / "ref.avro")
        avro_lite.write_container(p, schema, rows)
        _, got = avro_lite.read_container(p)
        assert got == rows
        with pytest.raises(ValueError, match="unresolved"):
            avro_lite.Schema({"type": "record", "name": "t", "fields": [
                {"name": "z", "type": {"type": "nope"}}]})


# the PRODUCT's spec-shaped manifest schemas: the fixtures must exchange
# exactly what bootstrap_table/the reader exchange, so a schema change
# there flows into these tests instead of drifting past a stale copy
MANIFEST_ENTRY_SCHEMA = iceberg_lite.MANIFEST_ENTRY_SCHEMA
MANIFEST_FILE_SCHEMA = iceberg_lite.MANIFEST_FILE_SCHEMA


def _entry(status, path, rows, content=0):
    return {"status": status, "snapshot_id": 1, "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {"content": content, "file_path": f"file://{path}",
                          "file_format": "PARQUET", "partition": {},
                          "record_count": rows, "file_size_in_bytes": 1}}


def _manifest_row(path, *, content=0, snap=1):
    return {"manifest_path": f"file://{path}", "manifest_length": 1,
            "partition_spec_id": 0, "content": content,
            "sequence_number": 1, "min_sequence_number": 1,
            "added_snapshot_id": snap}


def _write_parquet(spark, path: Path, urls):
    pdf = pd.DataFrame({
        "url": urls,
        "warc_ts": pd.to_datetime(["2026-01-01 10:00:00"] * len(urls)),
        "html": [b"<html>x</html>"] * len(urls),
        "text": ["text of " + u for u in urls],
        "lang": ["en"] * len(urls),
    })
    tmp = path.parent / (path.name + ".stage")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = next(tmp.glob("part-*.parquet"))
    shutil.move(str(part), str(path))
    shutil.rmtree(tmp)


def _build_table(spark, root: Path):
    """Spec-shaped Iceberg v2 table: snapshot 1 = {f1}, snapshot 2 =
    {f1 EXISTING, f2 ADDED, f3 DELETED(nonexistent on purpose)}."""
    (root / "data").mkdir(parents=True)
    (root / "metadata").mkdir()
    f1, f2 = root / "data/f1.parquet", root / "data/f2.parquet"
    _write_parquet(spark, f1, ["u1", "u2"])
    _write_parquet(spark, f2, ["u3"])

    m1 = root / "metadata/m1.avro"
    avro_lite.write_container(str(m1), MANIFEST_ENTRY_SCHEMA,
                              [_entry(1, f1, 2)])
    m2 = root / "metadata/m2.avro"
    avro_lite.write_container(str(m2), MANIFEST_ENTRY_SCHEMA, [
        _entry(0, f1, 2), _entry(1, f2, 1),
        _entry(2, root / "data/f3-gone.parquet", 9)])
    ml1 = root / "metadata/snap-1.avro"
    avro_lite.write_container(str(ml1), MANIFEST_FILE_SCHEMA,
                              [_manifest_row(m1, snap=1)])
    ml2 = root / "metadata/snap-2.avro"
    avro_lite.write_container(str(ml2), MANIFEST_FILE_SCHEMA,
                              [_manifest_row(m2, snap=2)])

    def meta_json(version, snaps, current):
        return {"format-version": 2, "table-uuid": "0000-fixture",
                "location": f"file://{root}", "last-sequence-number": version,
                "current-snapshot-id": current,
                "snapshots": snaps,
                "schemas": [], "partition-specs": [{"spec-id": 0,
                                                    "fields": []}]}

    s1 = {"snapshot-id": 1, "sequence-number": 1,
          "timestamp-ms": 1_700_000_000_000,
          "manifest-list": f"file://{ml1}",
          "summary": {"operation": "append"}}
    s2 = {"snapshot-id": 2, "sequence-number": 2,
          "timestamp-ms": 1_700_000_600_000,
          "manifest-list": f"file://{ml2}",
          "summary": {"operation": "append"}}
    (root / "metadata/v1.metadata.json").write_text(
        json.dumps(meta_json(1, [s1], 1)))
    (root / "metadata/v2.metadata.json").write_text(
        json.dumps(meta_json(2, [s1, s2], 2)))
    (root / "metadata/version-hint.text").write_text("2")


class TestIcebergLite:
    def test_current_snapshot_reads_live_files_only(self, spark, tmp_path):
        root = tmp_path / "tbl"
        _build_table(spark, root)
        df = iceberg_lite.read_iceberg_table(spark, str(root))
        assert sorted(r.url for r in df.select("url").collect()) == \
            ["u1", "u2", "u3"]

    def test_read_pages_routes_through_metadata_walk(self, spark, tmp_path):
        """S5 end-to-end: the pages source reads a REAL Iceberg layout with
        no Iceberg jars on the classpath, full pages schema intact."""
        from immich_geodata_zh_tw_spark.sources.pages import read_pages

        root = tmp_path / "tbl"
        _build_table(spark, root)
        df = read_pages(spark, str(root))
        assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
        assert df.count() == 3

    def test_delete_manifest_raises_loudly(self, spark, tmp_path):
        root = tmp_path / "tbl"
        _build_table(spark, root)
        ml = root / "metadata/snap-2.avro"
        avro_lite.write_container(
            str(ml), MANIFEST_FILE_SCHEMA,
            [_manifest_row(root / "metadata/m2.avro", content=1, snap=2)])
        with pytest.raises(NotImplementedError, match="merge-on-read"):
            iceberg_lite.data_files(str(root))

    def test_relocated_table_paths_remap(self, spark, tmp_path):
        """Manifests keep the author-time absolute location; a MOVED table
        dir must still read (the remap rule)."""
        src = tmp_path / "tbl"
        _build_table(spark, src)
        moved = tmp_path / "elsewhere" / "tbl"
        moved.parent.mkdir()
        shutil.move(str(src), str(moved))
        df = iceberg_lite.read_iceberg_table(spark, str(moved))
        assert df.count() == 3


class TestAvroProperties:
    """Hypothesis round-trip fuzz: random values against a fixed deep
    schema (strings incl. non-ASCII, bytes, bounded/unbounded ints,
    doubles, optionals, nested arrays/maps) survive write→read exactly."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _vals = st.fixed_dictionaries({
        "s": st.text(max_size=40),
        "l": st.integers(min_value=-(2 ** 62), max_value=2 ** 62),
        "d": st.floats(allow_nan=False, allow_infinity=False, width=64),
        "b": st.binary(max_size=20),
        "opt": st.one_of(st.none(),
                         st.integers(min_value=-(2 ** 31),
                                     max_value=2 ** 31)),
        "arr": st.lists(st.integers(min_value=-10 ** 9, max_value=10 ** 9),
                        max_size=8),
        "mp": st.dictionaries(st.text(min_size=1, max_size=8),
                              st.text(max_size=8), max_size=5),
    })

    SCHEMA = {
        "type": "record", "name": "fuzz", "fields": [
            {"name": "s", "type": "string"},
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "bytes"},
            {"name": "opt", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "mp", "type": {"type": "map", "values": "string"}},
        ]}

    @given(st.lists(_vals, max_size=20))
    @settings(max_examples=80, deadline=None)
    def test_round_trip(self, rows):
        import io as _io
        import os
        import tempfile

        fd, path = tempfile.mkstemp(suffix=".avro")
        os.close(fd)
        try:
            avro_lite.write_container(path, self.SCHEMA, rows)
            _, got = avro_lite.read_container(path)
            assert got == rows
        finally:
            os.unlink(path)
