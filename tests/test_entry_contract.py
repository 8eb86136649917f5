"""Driver-contract pins for __spark_entry__.py.

The driver's correctness gate samples a PREFIX of ``queries()``;
``_PRIORITY`` controls which operators get driver-hash evidence each
round.  These tests make the rotation un-breakable by accident: a
registry rename, a dropped oracle, or an array-typed gate output would
otherwise fail silently at snapshot time instead of in CI.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry


def test_priority_names_resolve():
    q = entry.queries()
    missing = [n for n in entry._PRIORITY if n not in q]
    assert not missing, f"_PRIORITY names absent from registry: {missing}"


def test_priority_has_no_duplicates():
    assert len(entry._PRIORITY) == len(set(entry._PRIORITY))


def test_rotation_preserves_full_surface():
    # rotation reorders, never drops: every registered query (and its
    # oracle) must still be exposed exactly once
    from spark_extension_spark.registry import ORACLES, QUERIES

    q, o = entry.queries(), entry.oracle_sql()
    assert set(q) == set(QUERIES)
    assert set(o) == set(ORACLES)
    assert list(q)[: len(entry._PRIORITY)] == [
        n for n in entry._PRIORITY if n in q
    ]


def test_window_prefix_is_oracle_backed():
    # every query in the 50-entry driver window needs a value oracle —
    # a rows-only row inside the window wastes a verification slot
    q, o = entry.queries(), entry.oracle_sql()
    window = list(q)[:50]
    unbacked = [n for n in window if n not in o]
    assert not unbacked, f"window queries without oracles: {unbacked}"


def test_oracle_output_types_portable():
    # DuckDB widens integer SUM to HUGEINT (int128) and VALUES literals
    # to DECIMAL; both materialize differently per fetch path (native
    # int vs pandas float64 vs arrow decimal128), so a harness that
    # stringifies fetched values hash-diverges on numerically identical
    # integers.  This was the r06/r07 driver-red root cause
    # (char_entropy / dup_ngram — the only two HUGEINT-emitting oracles
    # of 150), invisible to the local native-fetch mirror by
    # construction.  Pin the whole surface: every oracle output column
    # must be BIGINT/DOUBLE/VARCHAR/BOOL/temporal (EXACTNESS.md rule 6).
    # The table list and the flag predicate are the audit script's own
    # (single source of truth — the CI guard must not drift narrower
    # than the documented sweep).
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    import audit_oracle_types as audit

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in audit.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    offenders = []
    for name, sql in entry.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in audit.flagged_columns(rel.columns, rel.types):
            offenders.append((name, col, typ))
    assert not offenders, f"non-portable oracle output types: {offenders}"


def test_gate_outputs_are_scalar_typed(spark):
    # the driver's canonicalizer sorts pandas values: array/map/struct
    # cells are unhashable and error the row (round-5 failure class).
    # EVERY gate query is a future driver-window candidate under the
    # rotation, so pin the whole surface to scalar-only output columns,
    # not just the current 50-entry window.
    q = entry.queries()
    offenders = []
    for name in q:
        df = q[name](spark, "/root/testdata/sf0.001")
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if t.startswith(("array", "map", "struct")):
                offenders.append((name, f.name, t))
    assert not offenders, f"non-scalar gate outputs: {offenders}"
