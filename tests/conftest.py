import base64
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    yield session(4, "spark_extension_spark-tests", memory="4g")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, table):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


@pytest.fixture(scope="session")
def parquet_files(tmp_path_factory):
    """The parquet metadata fixtures (FIXTURES.md §9), written with pyarrow.

    ``test``: directory of two files, ``id BIGINT NOT NULL`` and
    ``val DOUBLE NOT NULL``, 100 rows in 1 row group and 200 rows in 2.
    ``plaintext_footer`` (``encrypted1.parquet``): ``id INT64 NOT NULL``
    and ``val FLOAT32 NOT NULL``, 100 rows in 1 row group, footer in
    plaintext (``PAR1`` magic) and ``val`` encrypted under a column key.
    ``encrypted_footer`` (``encrypted2.parquet``): one file whose footer is
    encrypted (``PARE`` magic), unreadable without its keys.
    ``decryption``: pyarrow decryption properties that hold both files'
    keys, for reading them independently of the keyless sources.

    Both encrypted files wrap their data keys with the same in-process KMS.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.parquet.encryption as pe

    class Kms(pe.KmsClient):
        """In-process KMS: a wrapped key is the key itself, base64."""

        def wrap_key(self, key_bytes, master_key_identifier):
            return base64.b64encode(key_bytes)

        def unwrap_key(self, wrapped_key, master_key_identifier):
            return base64.b64decode(wrapped_key)

    root = tmp_path_factory.mktemp("parquet")
    schema = pa.schema([pa.field("id", pa.int64(), nullable=False),
                        pa.field("val", pa.float64(), nullable=False)])

    def table(lo, hi):
        return pa.table({"id": range(lo, hi), "val": [i / 10 for i in range(lo, hi)]},
                        schema=schema)

    test = root / "test.parquet"
    test.mkdir()
    pq.write_table(table(0, 100), test / "file1.parquet", row_group_size=100)
    pq.write_table(table(100, 300), test / "file2.parquet", row_group_size=100)

    factory = pe.CryptoFactory(lambda config: Kms())
    kms = pe.KmsConnectionConfig()

    def encryption(plaintext_footer):
        return factory.file_encryption_properties(
            kms,
            pe.EncryptionConfiguration(footer_key="footer", column_keys={"column": ["val"]},
                                       plaintext_footer=plaintext_footer,
                                       double_wrapping=False),
        )

    plaintext_footer = root / "encrypted1.parquet"
    float_schema = pa.schema([pa.field("id", pa.int64(), nullable=False),
                              pa.field("val", pa.float32(), nullable=False)])
    pq.write_table(table(0, 100).cast(float_schema), plaintext_footer,
                   encryption_properties=encryption(True))

    encrypted_footer = root / "encrypted2.parquet"
    pq.write_table(table(0, 100), encrypted_footer, encryption_properties=encryption(False))
    return SimpleNamespace(test=str(test), plaintext_footer=str(plaintext_footer),
                           encrypted_footer=str(encrypted_footer),
                           decryption=factory.file_decryption_properties(kms))
