"""Session utilities and diff CLI app tests (reference SparkSuite job
description sections, AppSuite)."""

import pytest
from pyspark.sql import functions as F

from spark_extension_spark.session import (
    append_job_description,
    create_temporary_dir,
    job_description,
    on_either,
    when_then,
)
from spark_extension_spark.diff_app import build_parser, run


def _description(spark):
    return spark.sparkContext.getLocalProperty("spark.job.description")


def test_job_description(spark):
    assert _description(spark) is None
    with job_description("outer"):
        assert _description(spark) == "outer"
        with job_description("inner"):
            assert _description(spark) == "inner"
        with job_description("kept", if_not_set=True):
            assert _description(spark) == "outer"
        assert _description(spark) == "outer"
    assert _description(spark) is None


def test_append_job_description(spark):
    with job_description("base"):
        with append_job_description("extra"):
            assert _description(spark) == "base - extra"
        with append_job_description("extra", "/"):
            assert _description(spark) == "base/extra"
        assert _description(spark) == "base"


def test_job_description_from_worker_thread(spark):
    # a driver thread other than the session's builder has no active
    # session; the helpers must still label that thread's jobs
    import threading

    seen = []

    def work():
        with job_description("worker"):
            with append_job_description("step"):
                seen.append(_description(spark))

    t = threading.Thread(target=work)
    t.start()
    t.join()
    assert seen == ["worker - step"]


def test_create_temporary_dir(spark):
    import os

    path = create_temporary_dir("test")
    assert os.path.isdir(path)


def test_when_then(spark):
    df = spark.range(3)
    grow = lambda d: d.withColumn("x", F.lit(1))
    assert "x" in df.transform(when_then(True, grow)).columns
    assert "x" not in df.transform(when_then(False, grow)).columns


def test_on_either(spark):
    df = spark.range(3)
    f = lambda d: d.withColumn("f", F.lit(1))
    g = lambda d: d.withColumn("g", F.lit(1))
    assert "f" in df.transform(on_either(True, f, g)).columns
    assert "g" in df.transform(on_either(False, f, g)).columns


# -- CLI app ----------------------------------------------------------------


@pytest.fixture()
def csv_inputs(spark, tmp_path):
    left = tmp_path / "left.csv"
    right = tmp_path / "right.csv"
    left.write_text("id,value\n1,one\n2,two\n3,three\n")
    right.write_text("id,value\n1,one\n2,TWO\n4,four\n")
    return str(left), str(right), str(tmp_path / "out")


def test_diff_app_end_to_end(spark, csv_inputs):
    left, right, out = csv_inputs
    args = build_parser().parse_args([
        "--format", "csv",
        "--left-option", "header=true", "--right-option", "header=true",
        "--output-option", "header=true",
        "--schema", "id int, value string",
        "--id", "id",
        left, right, out,
    ])
    run(spark, args)
    back = (
        spark.read.format("csv").option("header", True)
        .schema("diff string, id int, left_value string, right_value string")
        .load(out)
    )
    rows = {r["id"]: r["diff"] for r in back.collect()}
    assert rows == {1: "N", 2: "C", 3: "D", 4: "I"}


def test_diff_app_statistics(spark, csv_inputs):
    left, right, out = csv_inputs
    args = build_parser().parse_args([
        "--format", "csv",
        "--left-option", "header=true", "--right-option", "header=true",
        "--output-option", "header=true",
        "--schema", "id int, value string",
        "--id", "id", "--statistics", "--save-mode", "overwrite",
        left, right, out,
    ])
    run(spark, args)
    back = (
        spark.read.format("csv").option("header", True)
        .schema("diff string, count long")
        .load(out)
    )
    stats = {r["diff"]: r["count"] for r in back.collect()}
    assert stats == {"C": 1, "D": 1, "I": 1, "N": 1}


def test_diff_app_filter(spark, csv_inputs):
    left, right, out = csv_inputs
    args = build_parser().parse_args([
        "--format", "csv",
        "--left-option", "header=true", "--right-option", "header=true",
        "--schema", "id int, value string",
        "--id", "id", "--filter", "C", "--filter", "D",
        left, right, out,
    ])
    run(spark, args)
    back = (
        spark.read.format("csv")
        .schema("diff string, id int, left_value string, right_value string")
        .load(out)
    )
    assert {r["diff"] for r in back.collect()} == {"C", "D"}


def test_diff_app_bad_option():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["--save-mode", "nope", "a", "b", "c"])


def test_install_patch(spark):
    import spark_extension_spark as sx

    left = spark.createDataFrame([(1, "a")], ["id", "v"])
    right = spark.createDataFrame([(1, "b")], ["id", "v"])
    sx.install()
    try:
        assert left.diff(right, "id").collect()[0]["diff"] == "C"
        assert left.histogram([0], "id").columns == ["≤0", ">0"]
    finally:
        sx.uninstall()
    assert not hasattr(left, "diff")


def test_spark_version(spark):
    from spark_extension_spark import spark_version, spark_version_at_least

    assert spark_version() >= (3, 5, 0)
    assert spark_version_at_least(3, 5)
    assert not spark_version_at_least(99)


def test_group_by_key(spark):
    from spark_extension_spark import group_by_key
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 2), (1, 3), (2, 4)], ["k", "v"])
    out = group_by_key(df, "k").agg(F.sum("v").alias("s"))
    assert {r["k"]: r["s"] for r in out.collect()} == {1: 5, 2: 4}


def test_diff_app_hive_tables(spark):
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).write.mode(
        "overwrite"
    ).saveAsTable("app_left")
    spark.createDataFrame([(1, "a"), (2, "B")], ["id", "v"]).write.mode(
        "overwrite"
    ).saveAsTable("app_right")
    try:
        args = build_parser().parse_args(
            ["--hive", "--id", "id", "--save-mode", "overwrite",
             "app_left", "app_right", "app_out"]
        )
        run(spark, args)
        rows = {r["id"]: r["diff"] for r in spark.table("app_out").collect()}
        assert rows == {1: "N", 2: "C"}
    finally:
        for t in ("app_left", "app_right", "app_out"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_local_checkpoint_cycler(spark):
    from pyspark.sql import functions as F

    from spark_extension_spark.utils import LocalCheckpointCycler

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()
    cyc = LocalCheckpointCycler(spark)
    cur = spark.range(100).withColumn("x", F.col("id"))
    for _ in range(4):
        cur = cyc.checkpoint(cur.withColumn("x", F.col("x") + 1))
        # only ONE generation live at any point in the loop
        assert len(cached_ids() - before) <= 2  # ≤ blocks of one generation
    # the surviving generation still reads correctly
    assert cur.agg(F.sum("x")).first()[0] == 100 * 4 + sum(range(100))
    cyc.release()
    assert cached_ids() <= before


def test_local_checkpoint_cycler_frees_only_its_own(spark):
    # a checkpoint that lands while the cycler checkpoints (another
    # thread's loop, say) is not one of its generations: the next
    # generation must not free it
    from pyspark.sql import functions as F

    from spark_extension_spark.utils import LocalCheckpointCycler

    cls = type(spark.range(1))  # the classic DataFrame class on PySpark 4
    orig = cls.localCheckpoint
    other = []

    def racing(self, *args, **kwargs):
        if not other:
            other.append(orig(spark.range(7).withColumn("o", F.lit(1)), eager=True))
        return orig(self, *args, **kwargs)

    cyc = LocalCheckpointCycler(spark)
    cls.localCheckpoint = racing
    try:
        cyc.checkpoint(spark.range(10))
    finally:
        cls.localCheckpoint = orig
    assert cyc.checkpoint(spark.range(20)).count() == 20
    assert other[0].collect() == [(i, 1) for i in range(7)]
    cyc.release()


def _write_trivial_wheel(dirpath, name="sx_wheeltest", version="1.0"):
    """Hand-assemble a minimal no-dependency wheel (a wheel is a zip
    with package files + dist-info) so the install path is testable
    with zero network and zero build tooling."""
    import base64
    import hashlib
    import os
    import zipfile

    whl = os.path.join(dirpath, f"{name}-{version}-py3-none-any.whl")
    files = {
        f"{name}/__init__.py": "MAGIC = 41 + 1\n",
        f"{name}-{version}.dist-info/METADATA": (
            f"Metadata-Version: 2.1\nName: {name}\nVersion: {version}\n"
        ),
        f"{name}-{version}.dist-info/WHEEL": (
            "Wheel-Version: 1.0\nGenerator: test\nRoot-Is-Purelib: true\n"
            "Tag: py3-none-any\n"
        ),
    }
    record_name = f"{name}-{version}.dist-info/RECORD"
    record_rows = []
    for fname, content in files.items():
        digest = base64.urlsafe_b64encode(
            hashlib.sha256(content.encode()).digest()
        ).rstrip(b"=").decode()
        record_rows.append(f"{fname},sha256={digest},{len(content)}")
    record_rows.append(f"{record_name},,")
    with zipfile.ZipFile(whl, "w") as z:
        for fname, content in files.items():
            z.writestr(fname, content)
        z.writestr(record_name, "\n".join(record_rows) + "\n")
    return whl


def test_install_pip_package_local_wheel(spark, tmp_path):
    """Network-free verification of the pip-install path (reference
    python/gresearch/spark/__init__.py:612-738): pip installs a LOCAL
    wheel into the temp target, the target is zipped + shipped via
    sc.addArchive, and the package imports driver-side."""
    import sys

    from spark_extension_spark.session import install_pip_package

    whl = _write_trivial_wheel(str(tmp_path))
    before_path = list(sys.path)
    try:
        install_pip_package(whl, "--no-index")
        import sx_wheeltest

        assert sx_wheeltest.MAGIC == 42
        # the pip target landed at the front of sys.path...
        target = sys.path[0]
        assert sx_wheeltest.__file__.startswith(target)
        # ...and its zip was registered with the Spark application so
        # executors unpack the same environment
        archives = list(spark.sparkContext.listArchives)
        assert any(a.endswith(".zip") and "pip" in a for a in archives), archives
        # the session must stay healthy AFTER the install: executors
        # fetch every added archive on the next task, so a zip created
        # inside Spark's own userFiles dir would collide with its copy
        # and fail every subsequent job in local mode (regression test)
        assert spark.range(10).count() == 10
    finally:
        sys.path[:] = before_path
        sys.modules.pop("sx_wheeltest", None)


def test_install_poetry_project_detects_wheels_by_snapshot(tmp_path, monkeypatch):
    """Wheel selection is a before/after snapshot of dist/, not a
    wall-clock mtime comparison (round-8 fix): a build landing with a
    skewed/coarse filesystem timestamp — here a full hour in the past —
    is still 'new', a stale wheel is still excluded, and a same-name
    rebuild (changed size, old mtime) is re-detected."""
    import os
    import subprocess
    import time
    from types import SimpleNamespace

    import spark_extension_spark.session as S

    project = tmp_path / "proj"
    dist = project / "dist"
    dist.mkdir(parents=True)
    stale = dist / "proj-0.9-py3-none-any.whl"
    stale.write_bytes(b"stale")

    built: list[bytes] = [b"fresh-build-1"]

    def fake_build(cmd, cwd=None, **kw):
        assert cmd[:2] == ["poetry", "build"] and cwd == str(project)
        new = dist / "proj-1.0-py3-none-any.whl"
        new.write_bytes(built[0])
        # fixed past timestamp: models both NFS/container clock skew
        # (wall-clock comparison would reject the wheel) AND a coarse
        # filesystem where a rebuild lands on the identical mtime
        os.utime(new, (1_000_000_000, 1_000_000_000))
        return SimpleNamespace(
            returncode=0, stdout="  - Built proj-1.0-py3-none-any.whl\n", stderr=""
        )

    installed: list[tuple] = []
    monkeypatch.setattr(subprocess, "run", fake_build)
    monkeypatch.setattr(S, "install_pip_package", lambda *a: installed.append(a))

    S.install_poetry_project(str(project))
    assert installed == [(str(dist / "proj-1.0-py3-none-any.whl"),)]

    # same-name rebuild with different content but identical size and a
    # pinned (coarse-filesystem) mtime: only the content hash differs
    built[0] = b"fresh-build-2"
    S.install_poetry_project(str(project))
    assert installed[-1] == (str(dist / "proj-1.0-py3-none-any.whl"),)

    # byte-identical rebuild (snapshot sees no change at all): falls
    # back to the wheel names poetry printed
    S.install_poetry_project(str(project))
    assert installed[-1] == (str(dist / "proj-1.0-py3-none-any.whl"),)
    assert len(installed) == 3

    # a build that only leaves the stale wheel untouched raises
    def no_op_build(cmd, cwd=None, **kw):
        (dist / "proj-1.0-py3-none-any.whl").unlink()
        return SimpleNamespace(returncode=0, stdout="", stderr="")

    monkeypatch.setattr(subprocess, "run", no_op_build)
    with pytest.raises(RuntimeError, match="produced no wheels"):
        S.install_poetry_project(str(project))


def test_install_poetry_project_build_failure_shows_output(
    tmp_path, monkeypatch, capsys
):
    """A failed `poetry build` echoes poetry's captured stdout/stderr
    before re-raising (round-9 fix): capture_output=True swallows the
    streams, so without the echo the user sees only an exit code and
    no hint of the actual build error.  The exception type stays
    CalledProcessError — the same contract as install_pip_package, so
    one except clause covers both install paths."""
    import subprocess

    import spark_extension_spark.session as S

    project = tmp_path / "proj"
    (project / "dist").mkdir(parents=True)

    def failing_build(cmd, cwd=None, check=False, **kw):
        raise subprocess.CalledProcessError(
            1, cmd, output="building...\n", stderr="error: no pyproject.toml\n"
        )

    monkeypatch.setattr(subprocess, "run", failing_build)
    with pytest.raises(subprocess.CalledProcessError):
        S.install_poetry_project(str(project))
    err = capsys.readouterr().err
    assert "building..." in err and "no pyproject.toml" in err


def test_install_pip_package_failure_propagates(spark, tmp_path):
    """A package pip cannot resolve raises CalledProcessError — no
    silent success, no sys.path/archive side effects."""
    import subprocess
    import sys

    from spark_extension_spark.session import install_pip_package

    before_path = list(sys.path)
    with pytest.raises(subprocess.CalledProcessError):
        install_pip_package(
            str(tmp_path / "does-not-exist-0-py3-none-any.whl"), "--no-index"
        )
    assert sys.path == before_path
