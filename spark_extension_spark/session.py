"""Session and job utilities.

Parity: reference src/main/scala/uk/co/gresearch/spark/package.scala:422-533
(job descriptions), :55-58 (temporary dir), python __init__.py:500-609,
and the fluent conditional helpers of uk/co/gresearch/package.scala:19-145.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = [
    "job_description",
    "append_job_description",
    "create_temporary_dir",
    "install_pip_package",
    "install_poetry_project",
    "when_then",
    "on_either",
]

T = TypeVar("T")


def _context() -> SparkContext:
    # the process's context, not SparkSession.getActiveSession(): a
    # driver thread other than the one that built the session has no
    # active session, and job descriptions live on the context anyway
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("job descriptions need a running SparkContext")
    return sc


@contextmanager
def job_description(description: str, if_not_set: bool = False):
    """Set the Spark job description for the duration of the block.

    With ``if_not_set=True`` an existing description is kept.
    """
    sc = _context()
    previous = sc.getLocalProperty("spark.job.description")
    if previous is None or not if_not_set:
        sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


@contextmanager
def append_job_description(extra: str, separator: str = " - "):
    """Append ``extra`` to the current job description for the block."""
    sc = _context()
    previous = sc.getLocalProperty("spark.job.description")
    combined = f"{previous}{separator}{extra}" if previous else extra
    sc.setJobDescription(combined)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


def create_temporary_dir(prefix: str = "spark") -> str:
    """A temporary directory inside Spark's local root — removed with the
    Spark application, so no cleanup bookkeeping needed."""
    from pyspark.files import SparkFiles

    root = SparkFiles.getRootDirectory()
    if not os.path.isdir(root):  # pragma: no cover - no active executors yet
        root = tempfile.gettempdir()
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def install_pip_package(*packages: str) -> None:
    """Install pip packages into the running Spark application: pip
    installs into a temp target, which is zipped, shipped via
    ``sc.addArchive`` and put on ``sys.path`` driver-side (reference
    python __init__.py:612-738).  Arguments pass through to pip, so
    local wheel paths (with ``--no-index``) install without network;
    index-resolved package names require network access."""
    import shutil
    import subprocess
    import sys

    spark = SparkSession.getActiveSession()
    target = create_temporary_dir("pip")
    subprocess.check_call(
        [sys.executable, "-m", "pip", "install", "--target", target, *packages]
    )
    # the archive must live OUTSIDE Spark's userFiles directory: in
    # local mode executors fetch added archives INTO that directory,
    # and a source already at the destination path collides with its
    # own copy (NoSuchFileException on every subsequent task).  A plain
    # OS tempdir is safe on any deploy mode; executors fetch the
    # archive lazily, so it must outlive this call — reclaim it at
    # interpreter exit instead (Spark's own userFiles cleanup happens
    # at application exit too, so the lifetime matches).
    import atexit

    archive_dir = tempfile.mkdtemp(prefix="spark-pip-archive")
    atexit.register(shutil.rmtree, archive_dir, ignore_errors=True)
    archive_base = os.path.join(archive_dir, os.path.basename(target))
    archive = shutil.make_archive(archive_base, "zip", target)
    spark.sparkContext.addArchive(archive)
    sys.path.insert(0, target)


def install_poetry_project(project_dir: str, *args: str) -> None:
    """Build a poetry project into wheels and install them
    (reference python __init__.py:697-731).  Requires poetry + network.

    Only wheels produced by THIS build are installed: ``dist/`` may
    hold stale wheels from earlier versions, and feeding pip the whole
    directory would install (or conflict on) the old one.  "Produced by
    this build" is decided by a before/after snapshot of ``dist/``
    (name, size, mtime, content hash) — never by comparing file mtimes
    against the wall clock, which misfires on filesystems with coarse
    or skewed timestamps (NFS, container clock drift): a wheel is new
    if its snapshot entry changed, including a same-name rebuild (the
    content hash catches a different-bytes rebuild under a coarse,
    e.g. 1-second, timestamp).  The one case the snapshot cannot see —
    a byte-identical rebuild with an unchanged coarse timestamp — falls
    back to the wheel names poetry itself printed ("Built x.whl"),
    which identify the same artifact anyway."""
    import hashlib
    import re
    import subprocess
    import sys

    def _snapshot(d: str) -> dict:
        out = {}
        for f in os.listdir(d) if os.path.isdir(d) else []:
            if f.endswith(".whl"):
                p = os.path.join(d, f)
                st = os.stat(p)
                with open(p, "rb") as fh:
                    digest = hashlib.md5(fh.read()).hexdigest()
                out[f] = (st.st_size, st.st_mtime_ns, digest)
        return out

    dist_dir = os.path.join(project_dir, "dist")
    before = _snapshot(dist_dir)
    try:
        proc = subprocess.run(
            ["poetry", "build", "--format", "wheel"],
            cwd=project_dir,
            check=True,
            capture_output=True,
            text=True,
        )
    except subprocess.CalledProcessError as e:
        # capture_output swallows poetry's streams; echo them before
        # re-raising or a failed build reports nothing actionable.  The
        # exception type stays CalledProcessError — same contract as
        # install_pip_package, so one except clause covers both paths.
        sys.stderr.write(e.stdout or "")
        sys.stderr.write(e.stderr or "")
        raise
    after = _snapshot(dist_dir)
    wheels = [
        os.path.join(dist_dir, f)
        for f, sig in sorted(after.items())
        if before.get(f) != sig
    ]
    if not wheels:
        # byte-identical rebuild (nothing in dist/ changed): trust the
        # names poetry reported building — same bytes, same artifact
        named = re.findall(r"\S+\.whl", proc.stdout + proc.stderr)
        wheels = sorted(
            {os.path.join(dist_dir, os.path.basename(n)) for n in named}
            & {os.path.join(dist_dir, f) for f in after}
        )
    if not wheels:
        raise RuntimeError(f"poetry build produced no wheels in {dist_dir}")
    install_pip_package(*wheels, *args)


# -- fluent conditionals (reference uk/co/gresearch/package.scala:19-145) ----


def when_then(condition: bool, transform: Callable[[T], T]) -> Callable[[T], T]:
    """``df.transform(when_then(cond, f))`` — apply ``f`` only when
    ``condition`` holds (reference ``when(cond).call(f)``)."""
    return transform if condition else (lambda value: value)


def on_either(
    condition: bool, if_true: Callable[[T], T], if_false: Callable[[T], T]
) -> Callable[[T], T]:
    """``df.transform(on_either(cond, f, g))`` (reference
    ``on(cond).either(f).or(g)``)."""
    return if_true if condition else if_false
