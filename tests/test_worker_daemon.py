"""The Python worker daemon (``worker_daemon``) and the package zip that
``load_table`` ships to workers (``sources.tables._package_zip``)."""

import importlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

import linkml_store_spark
from linkml_store_spark import worker_daemon
from linkml_store_spark.sources import tables

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(linkml_store_spark.__file__)))


def _write_zip(path, files):
    """A stored (uncompressed) zip with fixed entry dates, so equal-length
    contents give archives of equal size."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
        for name, text in files.items():
            zf.writestr(zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0)), text)


@pytest.fixture()
def guarded_zip_path(tmp_path, monkeypatch):
    """A zip archive on sys.path with the stat guard installed; the guard,
    the importers and the modules are removed again afterwards."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_a.py": "VALUE = 1\n", "zg_pkg/__init__.py": "",
                         "zg_pkg/child.py": "VALUE = 3\n"})
    # record the original so teardown restores it
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zg_a", "zg_b", "zg_pkg", "zg_pkg.child"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_zip_guard_rereads_only_a_changed_archive(guarded_zip_path):
    archive, reads = guarded_zip_path
    import zg_a  # noqa: F401
    import zg_pkg.child  # noqa: F401  (a second importer of the archive)

    assert worker_daemon.install_zip_guard() is True
    reads.clear()  # drop the imports' own reads
    importlib.invalidate_caches()  # first refresh stamps the archive
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged: no re-read

    # rewritten in place with a new size: read again, new module importable
    _write_zip(archive, {"zg_a.py": "VALUE = 1\n", "zg_b.py": "VALUE = 2\n",
                         "zg_pkg/__init__.py": "", "zg_pkg/child.py": "VALUE = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zg_b").VALUE == 2

    # same size, new contents and a new mtime: read again
    st = os.stat(archive)
    _write_zip(archive, {"zg_a.py": "VALUE = 1\n", "zg_b.py": "VALUE = 5\n",
                         "zg_pkg/__init__.py": "", "zg_pkg/child.py": "VALUE = 3\n"})
    assert os.stat(archive).st_size == st.st_size
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads.count(archive) == 3
    sys.modules.pop("zg_b")
    assert importlib.import_module("zg_b").VALUE == 5


def test_zip_guard_warns_and_stands_aside_without_invalidate_caches(monkeypatch):
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    with pytest.warns(RuntimeWarning, match="invalidate_caches"):
        assert worker_daemon.install_zip_guard() is False
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")


def test_reused_worker_does_not_reread_pyspark_zip(spark):
    """pyspark refreshes the import caches before every task; in a reused
    worker the directory of the unchanged pyspark.zip must survive it."""

    def probe(rows):
        import os
        import zipimport

        for _ in rows:  # a worker is reused only after reading its input
            pass
        dirs = {p: d for p, d in zipimport._zip_directory_cache.items()
                if p.endswith("pyspark.zip")}
        held = getattr(zipimport, "_probe_held_dirs", None)
        if held is None:
            # holding the dicts keeps `is` meaningful on the next task
            zipimport._probe_held_dirs = dirs
            return [(os.getpid(), None, len(dirs))]
        refreshed = sorted(p for p, d in dirs.items() if d is not held.get(p))
        return [(os.getpid(), refreshed, len(dirs))]

    rdd = spark.sparkContext.parallelize(range(4), 1)
    repeats = []
    for _ in range(64):
        pid, refreshed, n_zips = rdd.mapPartitions(probe).collect()[0]
        assert n_zips >= 1, "pyspark.zip is not on the worker's path"
        if refreshed is not None:
            repeats.append((pid, refreshed))
            if len(repeats) >= 3:
                break
    assert repeats, "no Python worker was reused"
    assert all(refreshed == [] for _pid, refreshed in repeats), repeats


def _children(pid):
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def test_daemon_module_imports_light():
    """``python -m linkml_store_spark.worker_daemon`` runs the package
    ``__init__`` first; with lazy exports the guard is in place before
    anything starts a thread (numpy's OpenBLAS pool, for one)."""
    code = ("import json, os, sys, linkml_store_spark.worker_daemon; "
            "print(json.dumps([len(os.listdir('/proc/self/task')), "
            "[m for m in ('numpy', 'pyspark', 'linkml_store_spark.client') "
            "if m in sys.modules]]))")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=120,
                          env=dict(os.environ, PYTHONPATH=REPO_ROOT))
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout) == [1, []]


def test_worker_daemon_process_is_single_threaded(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "linkml_store_spark.worker_daemon")
    sc.parallelize(range(8), 2).map(lambda x: x + 1).collect()
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    daemons = []
    for pid in _children(jvm_pid):
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            if b"linkml_store_spark.worker_daemon" in fh.read():
                daemons.append(pid)
    assert daemons, "no worker daemon under the JVM"
    for pid in daemons:
        with open(f"/proc/{pid}/status") as fh:
            threads = [ln.split()[1] for ln in fh if ln.startswith("Threads:")]
        assert threads == ["1"], (pid, threads)


def test_package_zip_is_named_by_its_sources(tmp_path, monkeypatch):
    pkg = tmp_path / "pkg"
    shutil.copytree(os.path.dirname(linkml_store_spark.__file__), pkg,
                    ignore=shutil.ignore_patterns("__pycache__", "*.pyc"))
    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.setattr("tempfile.tempdir", str(out))

    first = tables._package_zip(str(pkg))
    assert tables._package_zip(str(pkg)) == first
    assert os.path.basename(first).startswith("linkml_store_spark_dist-")
    with open(pkg / "where.py", "a") as fh:
        fh.write("\n# edited\n")
    second = tables._package_zip(str(pkg))
    assert second != first
    with zipfile.ZipFile(second) as zf:
        assert zf.read("linkml_store_spark/where.py").endswith(b"# edited\n")
    with zipfile.ZipFile(first) as zf:
        assert not zf.read("linkml_store_spark/where.py").endswith(b"# edited\n")


# Run in its own process: it needs a session whose JVM starts with the
# stock daemon, and a temp directory holding an older tree's zip.
_STOCK_DAEMON_SCRIPT = r'''
import hashlib, json, os, sys, tempfile, zipfile
tempfile.tempdir = sys.argv[1]
import linkml_store_spark
pkg_dir = os.path.dirname(linkml_store_spark.__file__)
# an older tree's zip, under the one name the package used to reuse
with zipfile.ZipFile(os.path.join(sys.argv[1], "linkml_store_spark_dist.zip"), "w") as zf:
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full) as fh:
                    zf.writestr(os.path.join("linkml_store_spark", os.path.relpath(full, pkg_dir)),
                                fh.read() + "\n# an older tree\n")

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from linkml_store_spark.operators.enrichment import _fisher_udf
from linkml_store_spark.session import get_spark
from linkml_store_spark.sources.tables import _ensure_session_confs

spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={
    "spark.python.daemon.module": "pyspark.daemon",
    "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
_ensure_session_confs(spark)  # before the first Python task

MODS = ["linkml_store_spark", "linkml_store_spark.operators.enrichment"]

def source_hashes(_=None):
    import hashlib, importlib
    return [[hashlib.sha256(importlib.import_module(m).__loader__.get_source(m).encode()).hexdigest()
             for m in MODS]]

out = {"daemon": spark.sparkContext.getConf().get("spark.python.daemon.module"),
       "driver": source_hashes()}
out["workers"] = sorted(set(tuple(h) for h in spark.sparkContext.parallelize(range(4), 4)
                            .mapPartitions(source_hashes).collect()))

df = spark.createDataFrame([(i % 2, float(i)) for i in range(6)], "k int, v double")
plus = F.pandas_udf(lambda s: s + 1, "double")

@F.pandas_udf("double")
def mean(s: pd.Series) -> float:
    return float(s.mean())

kinds = {
    "rdd": lambda: sum(spark.sparkContext.parallelize(range(6), 2).mapPartitions(lambda it: [sum(it)]).collect()),
    "udf": lambda: df.select(F.sum(F.udf(lambda x: x * 2, "double")("v"))).first()[0],
    "arrow_udf": lambda: df.select(F.sum(F.udf(lambda x: x * 2, "double", useArrow=True)("v"))).first()[0],
    "pandas_udf": lambda: df.select(F.sum(plus("v"))).first()[0],
    "pandas_agg": lambda: sorted(r[1] for r in df.groupBy("k").agg(mean("v")).collect()),
    "mapInPandas": lambda: df.mapInPandas(lambda it: (p.assign(v=p.v * 3) for p in it), df.schema).agg(F.sum("v")).first()[0],
    "mapInArrow": lambda: df.mapInArrow(lambda it: iter(it), df.schema).count(),
    "applyInPandas": lambda: sorted(r[1] for r in df.groupBy("k").applyInPandas(
        lambda p: pd.DataFrame({"k": [p.k.iloc[0]], "v": [p.v.sum()]}), "k int, v double").collect()),
    "applyInArrow": lambda: df.groupBy("k").applyInArrow(lambda t: t, df.schema).count(),
    "cogroup": lambda: sorted(r[1] for r in df.groupBy("k").cogroup(df.groupBy("k")).applyInPandas(
        lambda a, b: pd.DataFrame({"k": [a.k.iloc[0]], "v": [a.v.sum() + b.v.sum()]}), "k int, v double").collect()),
    "package_kernel": lambda: round(df.select(_fisher_udf(F.lit(3), F.lit(1), F.lit(1), F.lit(3))).first()[0], 9),
}
out["kinds"] = {name: fn() for name, fn in kinds.items()}
spark.stop()
print(json.dumps(out))
'''


def test_stock_daemon_session_ships_current_sources_and_runs_every_udf_kind(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO_ROOT, SPARK_DRIVER_MEMORY="1g",
               SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", _STOCK_DAEMON_SCRIPT, str(tmp_path)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["daemon"] == "pyspark.daemon"
    # every worker imported the driver's sources, not the older zip
    assert out["workers"] == out["driver"]
    kinds = out["kinds"]
    assert kinds["rdd"] == 15
    assert kinds["udf"] == kinds["arrow_udf"] == 30.0
    assert kinds["pandas_udf"] == 21.0
    assert kinds["pandas_agg"] == [2.0, 3.0]
    assert kinds["mapInPandas"] == 45.0
    assert kinds["mapInArrow"] == kinds["applyInArrow"] == 6
    assert kinds["applyInPandas"] == [6.0, 9.0]
    assert kinds["cogroup"] == [12.0, 18.0]
    assert 0.0 < kinds["package_kernel"] <= 1.0
