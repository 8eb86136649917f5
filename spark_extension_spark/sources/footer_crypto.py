"""Parquet modular-encryption detection from raw footer bytes.

pyarrow (observed with 16.1 and 21.x) aborts the whole process — C++
``std::terminate`` on "Cannot decrypt ColumnMetadata", exit status 134,
not a catchable Python exception — the moment ``md.row_group(g).column(c)``
is constructed for an *encrypted column chunk* of a plaintext-footer file
without decryption properties.  Inside ``mapInPandas`` that kills the
executor worker, so a try/except guard is useless: the five metadata
sources must know which chunks are encrypted BEFORE touching them.

The footer of a plaintext-footer file is ordinary thrift compact
protocol, and the encryption markers (``FileMetaData.encryption_algorithm``,
``ColumnChunk.crypto_metadata`` / ``encrypted_column_metadata``) are
plaintext by design, so a direct scan of the footer bytes answers
"which (row group, column) chunks are unreadable" without any codec.

Parity: reference ParquetMetaDataUtil.scala ``FooterGuard`` (guarded
access that yields nulls for unreadable values) and parquet-mr's
``EncryptionType`` enum {UNENCRYPTED, PLAINTEXT_FOOTER, ENCRYPTED_FOOTER}
surfaced by parquet/package.scala's ``encryption`` column.

Cost note: the scan is O(footer bytes) in Python, dominated by skipping
the per-chunk statistics blobs — microseconds for normal footers, and it
runs executor-side inside the same task that reads the footer anyway.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

__all__ = ["FooterCrypto", "scan_footer_crypto"]

# thrift compact protocol wire types
_STOP, _TRUE, _FALSE, _BYTE, _I16, _I32, _I64 = 0, 1, 2, 3, 4, 5, 6
_DOUBLE, _BINARY, _LIST, _SET, _MAP, _STRUCT = 7, 8, 9, 10, 11, 12


@dataclass
class FooterCrypto:
    """Encryption state of one parquet file's footer."""

    footer_encrypted: bool = False
    file_encrypted: bool = False  # FileMetaData.encryption_algorithm set
    #: (row_group, column) -> path_in_schema (when the plaintext
    #: ColumnCryptoMetaData carries it; None for footer-key columns)
    encrypted_chunks: Dict[Tuple[int, int], Optional[List[str]]] = field(
        default_factory=dict
    )
    #: RowGroup.file_offset per row group (None when the writer omitted it)
    row_group_offsets: List[Optional[int]] = field(default_factory=list)

    @property
    def encryption(self) -> str:
        if self.footer_encrypted:
            return "ENCRYPTED_FOOTER"
        if self.file_encrypted or self.encrypted_chunks:
            return "PLAINTEXT_FOOTER"
        return "UNENCRYPTED"

    def is_encrypted(self, row_group: int, column: int) -> bool:
        return (row_group, column) in self.encrypted_chunks


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        result = shift = 0
        while True:
            b = self.byte()
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7

    def zigzag(self) -> int:
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def skip_binary(self) -> None:
        # NB: must read the varint BEFORE adding — `self.pos += self.varint()`
        # would load the pre-varint pos and drop the length-prefix bytes.
        n = self.varint()
        self.pos += n

    def read_binary(self) -> bytes:
        n = self.varint()
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def skip(self, wire_type: int) -> None:
        if wire_type in (_TRUE, _FALSE):
            return  # value lives in the field header
        if wire_type == _BYTE:
            self.pos += 1
        elif wire_type in (_I16, _I32, _I64):
            self.varint()
        elif wire_type == _DOUBLE:
            self.pos += 8
        elif wire_type == _BINARY:
            self.skip_binary()
        elif wire_type in (_LIST, _SET):
            size, elem = self.list_header()
            for _ in range(size):
                self.skip_elem(elem)
        elif wire_type == _MAP:
            size = self.varint()
            if size:
                kv = self.byte()
                for _ in range(size):
                    self.skip_elem(kv >> 4)
                    self.skip_elem(kv & 0x0F)
        elif wire_type == _STRUCT:
            self.walk_struct(None)
        else:
            raise ValueError(f"unknown thrift compact type {wire_type}")

    def skip_elem(self, elem_type: int) -> None:
        # inside containers, bools are one byte (not header-packed)
        if elem_type in (_TRUE, _FALSE):
            self.pos += 1
        else:
            self.skip(elem_type)

    def list_header(self) -> Tuple[int, int]:
        b = self.byte()
        size = (b >> 4) & 0x0F
        if size == 15:
            size = self.varint()
        return size, b & 0x0F

    def walk_struct(self, handler) -> None:
        """Visit a struct's fields; ``handler(field_id, wire_type) ->
        bool`` returns True when it consumed the value itself."""
        field_id = 0
        while True:
            b = self.byte()
            if b == _STOP:
                return
            delta = (b >> 4) & 0x0F
            wire_type = b & 0x0F
            field_id = field_id + delta if delta else self.zigzag()
            if handler is None or not handler(field_id, wire_type):
                self.skip(wire_type)


def _parse_column_crypto(r: _Reader) -> Optional[List[str]]:
    """ColumnCryptoMetaData union: 1 = ENCRYPTION_WITH_FOOTER_KEY,
    2 = ENCRYPTION_WITH_COLUMN_KEY{1: path_in_schema}."""
    path: List[Optional[List[str]]] = [None]

    def on_union(fid: int, wt: int) -> bool:
        if fid == 2 and wt == _STRUCT:

            def on_column_key(cfid: int, cwt: int) -> bool:
                if cfid == 1 and cwt == _LIST:
                    size, _ = r.list_header()
                    path[0] = [
                        r.read_binary().decode("utf-8", "replace") for _ in range(size)
                    ]
                    return True
                return False

            r.walk_struct(on_column_key)
            return True
        return False

    r.walk_struct(on_union)
    return path[0]


def _parse_column_chunk(r: _Reader, out: FooterCrypto, rg: int, col: int) -> None:
    """ColumnChunk: 8 = crypto_metadata, 9 = encrypted_column_metadata."""

    def on_field(fid: int, wt: int) -> bool:
        if fid == 8 and wt == _STRUCT:
            out.encrypted_chunks[(rg, col)] = _parse_column_crypto(r)
            return True
        if fid == 9 and wt == _BINARY:
            out.encrypted_chunks.setdefault((rg, col), None)
            r.skip_binary()
            return True
        return False

    r.walk_struct(on_field)


def _parse_row_group(r: _Reader, out: FooterCrypto, rg: int) -> None:
    """RowGroup: 1 = columns list<ColumnChunk>, 5 = file_offset."""
    offset: List[Optional[int]] = [None]

    def on_field(fid: int, wt: int) -> bool:
        if fid == 1 and wt == _LIST:
            size, _ = r.list_header()
            for col in range(size):
                _parse_column_chunk(r, out, rg, col)
            return True
        if fid == 5 and wt == _I64:
            offset[0] = r.zigzag()
            return True
        return False

    r.walk_struct(on_field)
    out.row_group_offsets.append(offset[0])


def scan_footer_crypto(path: str) -> FooterCrypto:
    """Scan one parquet file's footer for encryption markers.

    ``PARE`` magic (encrypted footer) short-circuits to
    ``footer_encrypted`` — nothing else is readable without keys.
    """
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        if size < 12:
            raise ValueError(f"not a parquet file (too small): {path}")
        f.seek(size - 8)
        tail = f.read(8)
        magic = tail[4:]
        if magic == b"PARE":
            return FooterCrypto(footer_encrypted=True, file_encrypted=True)
        if magic != b"PAR1":
            raise ValueError(f"not a parquet file (bad magic {magic!r}): {path}")
        footer_len = int.from_bytes(tail[:4], "little")
        f.seek(size - 8 - footer_len)
        buf = f.read(footer_len)

    out = FooterCrypto()
    r = _Reader(buf)
    rg_counter = [0]

    def on_file_meta(fid: int, wt: int) -> bool:
        # FileMetaData: 4 = row_groups, 8 = encryption_algorithm
        if fid == 4 and wt == _LIST:
            size, _ = r.list_header()
            for _ in range(size):
                _parse_row_group(r, out, rg_counter[0])
                rg_counter[0] += 1
            return True
        if fid == 8 and wt == _STRUCT:
            out.file_encrypted = True
            return False  # let skip() consume the struct
        return False

    r.walk_struct(on_file_meta)
    return out
