"""Encrypted-parquet behavior against in-repo and reference fixtures.

Parity: reference ParquetSuite.scala:353-417 ("read encrypted parquets"):
- encrypted1.parquet (plaintext footer, column `val` encrypted): metadata /
  schema / blocks / blockColumns readable with chunk-level fields nulled and
  the per-chunk `encrypted` flag set; partitions throws.
- encrypted2.parquet (encrypted footer): all five sources throw.

Both files are written by the ``parquet_files`` fixture (conftest) with
pyarrow's encryption API and an in-process KMS: ``encrypted1.parquet`` with
``plaintext_footer=True`` (``id INT64``, ``val FLOAT32``, 100 rows in one
row group, ``val`` under a column key), ``encrypted2.parquet`` with the
footer encrypted.  Every plaintext-footer test reads the in-repo file, and
also the reference's Spark-written ``src/test/files/encrypted1.parquet``
(``PLAINTEXT_FOOTER_FILE``) whenever that checkout is present.

Where the expected values come from:
- writer-independent ones (block, row and column counts, the schema,
  ``PLAINTEXT_FOOTER``, encrypted chunk ``(0, 1)``, nulled chunk fields)
  from the reference test, for both files; ``blockStart == 4`` from the
  Parquet format, whose first page follows the 4-byte ``PAR1`` magic;
- the in-repo file's ``uncompressedBytes`` and ``keyValues`` keys from
  pyarrow's own reader opening that file with the fixture's keys, an
  independent read next to the keyless sources under test;
- the reference goldens, 1358 bytes and ``org.apache.spark.version``,
  belong to the Spark-written file and are checked only against it.

The sources get no keys, so the "with decryption keys" half of the
reference test is out of scope.
"""

import os

import pyarrow.parquet as pq
import pytest

from spark_extension_spark.sources.footer_crypto import scan_footer_crypto
from spark_extension_spark.sources.parquet_metadata import (
    parquet_block_columns,
    parquet_blocks,
    parquet_metadata,
    parquet_partitions,
    parquet_schema,
)

PLAINTEXT_FOOTER_FILE = "/root/reference/src/test/files/encrypted1.parquet"
PLAIN_FILE = "/root/testdata/sf0.001/nation.parquet"


def plaintext_footer_files(parquet_files):
    """The in-repo plaintext-footer file, then the reference's Spark-written
    one when that checkout is present."""
    files = [parquet_files.plaintext_footer]
    if os.path.exists(PLAINTEXT_FOOTER_FILE):
        files.append(PLAINTEXT_FOOTER_FILE)
    return files


def keyed_footer(parquet_files):
    """The in-repo plaintext-footer file's metadata as pyarrow reads it with
    the fixture's decryption keys."""
    return pq.ParquetFile(parquet_files.plaintext_footer,
                          decryption_properties=parquet_files.decryption).metadata


def test_footer_scan_classification(parquet_files):
    for path in plaintext_footer_files(parquet_files):
        c1 = scan_footer_crypto(path)
        assert c1.encryption == "PLAINTEXT_FOOTER"
        # column 1 (`val`) of row group 0 is encrypted with a column key
        assert c1.encrypted_chunks == {(0, 1): ["val"]}
        assert c1.row_group_offsets == [4]

    c2 = scan_footer_crypto(parquet_files.encrypted_footer)
    assert c2.encryption == "ENCRYPTED_FOOTER"

    c0 = scan_footer_crypto(PLAIN_FILE)
    assert c0.encryption == "UNENCRYPTED"
    assert c0.encrypted_chunks == {}


def test_metadata_plaintext_footer(spark, parquet_files):
    key_values = {}
    for path in plaintext_footer_files(parquet_files):
        rows = parquet_metadata(spark, path).collect()
        assert len(rows) == 1
        r = rows[0]
        # reference ParquetSuite.scala:375-377: Row(…, 1, null, null, 100, 2,
        # null, null, createdBy, schema, PLAINTEXT_FOOTER, keyValues)
        assert r["blocks"] == 1
        assert r["compressedBytes"] is None and r["uncompressedBytes"] is None
        assert r["rows"] == 100 and r["columns"] == 2
        assert r["values"] is None and r["nulls"] is None
        assert r["createdBy"] is not None and r["schema"] is not None
        assert r["encryption"] == "PLAINTEXT_FOOTER"
        key_values[path] = r["keyValues"]

    expected = {k.decode() for k in keyed_footer(parquet_files).metadata}
    assert set(key_values[parquet_files.plaintext_footer]) == expected
    if PLAINTEXT_FOOTER_FILE in key_values:
        assert "org.apache.spark.version" in key_values[PLAINTEXT_FOOTER_FILE]


def test_schema_plaintext_footer(spark, parquet_files):
    for path in plaintext_footer_files(parquet_files):
        rows = parquet_schema(spark, path).orderBy("columnName").collect()
        # schema is plaintext: both columns fully described
        # (reference ParquetSuite.scala:380-386)
        assert [(r["columnName"], r["type"], r["repetition"]) for r in rows] == [
            ("id", "INT64", "REQUIRED"),
            ("val", "FLOAT", "REQUIRED"),
        ]


def test_blocks_plaintext_footer(spark, parquet_files):
    uncompressed = {}
    for path in plaintext_footer_files(parquet_files):
        rows = parquet_blocks(spark, path).collect()
        assert len(rows) == 1
        r = rows[0]
        # reference ParquetSuite.scala:388-391: Row(…, 1, 4, null, 1358, 100, 2,
        # null, null) — blockStart from the plaintext RowGroup.file_offset
        assert r["block"] == 1 and r["blockStart"] == 4
        assert r["compressedBytes"] is None
        assert r["rows"] == 100 and r["columns"] == 2
        assert r["values"] is None and r["nulls"] is None
        uncompressed[path] = r["uncompressedBytes"]

    expected = keyed_footer(parquet_files).row_group(0).total_byte_size
    assert uncompressed[parquet_files.plaintext_footer] == expected
    if PLAINTEXT_FOOTER_FILE in uncompressed:
        assert uncompressed[PLAINTEXT_FOOTER_FILE] == 1358


def test_block_columns_plaintext_footer(spark, parquet_files):
    for path in plaintext_footer_files(parquet_files):
        rows = parquet_block_columns(spark, path).orderBy("column").collect()
        # reference ParquetSuite.scala:392-397: per-chunk fields all null, the
        # encrypted flag true only for the column-key-encrypted chunk
        assert [(r["column"], r["encrypted"]) for r in rows] == [
            (["id"], False),
            (["val"], True),
        ]
        for r in rows:
            for field in ("codec", "type", "encodings", "minValue", "maxValue",
                          "columnStart", "compressedBytes", "uncompressedBytes",
                          "values", "nulls"):
                assert r[field] is None, (r["column"], field)


def test_partitions_plaintext_footer_raises(spark, parquet_files):
    for path in plaintext_footer_files(parquet_files):
        with pytest.raises(Exception, match="encrypted column chunks"):
            parquet_partitions(spark, path).collect()


@pytest.mark.parametrize(
    "source",
    [parquet_metadata, parquet_schema, parquet_blocks, parquet_block_columns,
     parquet_partitions],
    ids=["metadata", "schema", "blocks", "block_columns", "partitions"],
)
def test_encrypted_footer_raises(spark, parquet_files, source):
    # reference ParquetSuite.scala:402-417: every source throws without keys
    with pytest.raises(Exception, match="footer is encrypted"):
        source(spark, parquet_files.encrypted_footer).collect()


def test_unencrypted_files_unaffected(spark):
    # the guard must not change behavior for normal files
    r = parquet_metadata(spark, PLAIN_FILE).collect()[0]
    assert r["encryption"] == "UNENCRYPTED"
    assert r["compressedBytes"] is not None and r["values"] is not None
    cols = parquet_block_columns(spark, PLAIN_FILE).collect()
    assert all(c["encrypted"] is False for c in cols)
    assert all(c["codec"] is not None for c in cols)
