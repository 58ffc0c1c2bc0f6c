"""The in-process ``file:`` file system (``porcupine_spark/jvm``).

``get_spark`` installs ``LocalFileSystem`` for ``file:`` so that writes,
streaming checkpoints and state stores start no ``chmod`` or
``readlink`` process. These tests pin that it is installed in both
Hadoop views, that it keeps the stock semantics (permission bits, link
status, ``.crc`` files), that the driver JVM reaps no ``chmod`` or
``readlink`` child across a write and a stream drain, that the committed jar matches its
source, and that it ships to executors on a ``local-cluster`` master.
"""

import glob
import hashlib
import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import build_jvm  # noqa: E402

MODES = [0o600, 0o640, 0o644, 0o700, 0o755, 0o1777]


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _file_uri(spark):
    return spark._jvm.java.net.URI("file:///")


@pytest.fixture(scope="module")
def raw_pair(spark):
    """(stock RawLocalFileSystem, the session's raw layer)."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(_file_uri(spark), hconf)
    ours = jvm.org.apache.hadoop.fs.FileSystem.get(_file_uri(spark), hconf).getRaw()
    return stock, ours


def _reaped_child_ticks(spark) -> int:
    """cutime + cstime (fields 16-17 of /proc/<pid>/stat) of the driver
    JVM: the CPU of every child process it has waited for."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def _partitioned_write(spark, path):
    from porcupine_spark.serials import parquet_serial

    df = spark.range(4800).selectExpr("id", "id % 48 AS k", "cast(id AS string) AS s")
    parquet_serial().write(df, str(path), partition_by="k")


def test_session_installs_both_views(spark):
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(_file_uri(spark), hconf)
    assert fs.getClass().getName() == "porcupine_spark.jvm.LocalFileSystem"
    assert fs.getRaw().getClass().getName() == "porcupine_spark.jvm.LocalFileSystem$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(_file_uri(spark), hconf)
    assert fc.getDefaultFileSystem().getClass().getName() == "porcupine_spark.jvm.LocalFileSystem$Fs"


@pytest.mark.parametrize("mode", MODES, ids=oct)
@pytest.mark.parametrize("kind", ["file", "dir"])
def test_set_permission_matches_stock(spark, raw_pair, tmp_path, mode, kind):
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    got = []
    for fs, name in zip(raw_pair, ("stock", "ours")):
        p = tmp_path / name
        p.mkdir() if kind == "dir" else p.write_bytes(b"x")
        fs.setPermission(_path(spark, p), perm)
        got.append(stat.S_IMODE(os.stat(p).st_mode))
    assert got == [mode, mode]


def test_set_permission_keeps_a_directory_setgid_bit_as_stock(spark, raw_pair, tmp_path):
    """chmod's four-digit octal keeps a directory's setgid bit; nio would
    clear it, so such a directory takes Hadoop's own path."""
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(0o750)
    got = []
    for fs, name in zip(raw_pair, ("stock", "ours")):
        p = tmp_path / name
        p.mkdir()
        os.chmod(p, 0o2755)
        fs.setPermission(_path(spark, p), perm)
        got.append(stat.S_IMODE(os.stat(p).st_mode))
    assert got == [0o2750, 0o2750]


def _link_status(spark, fs, p):
    try:
        s = fs.getFileLinkStatus(_path(spark, p))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return s.isSymlink(), s.isDirectory(), s.getLen()


@pytest.mark.parametrize("prefix", ["", "file:"], ids=["bare", "qualified"])
def test_link_status_matches_stock(spark, raw_pair, tmp_path, prefix):
    (tmp_path / "f").write_bytes(b"hello")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "link")
    os.symlink(tmp_path / "nowhere", tmp_path / "dangling")
    stock, ours = raw_pair
    for name in ("f", "d", "link", "dangling", "missing"):
        p = f"{prefix}{tmp_path / name}"
        assert _link_status(spark, ours, p) == _link_status(spark, stock, p), p
    # the cases the fast path must not change
    assert _link_status(spark, ours, f"{prefix}{tmp_path / 'missing'}") == "java.io.FileNotFoundException"
    if prefix == "":
        assert _link_status(spark, ours, tmp_path / "link") == (True, False, 5)
        assert _link_status(spark, ours, tmp_path / "dangling")[0] is True
    else:
        assert _link_status(spark, ours, f"file:{tmp_path / 'dangling'}") == "java.io.FileNotFoundException"


def test_partitioned_write_is_checksummed(spark, tmp_path):
    from porcupine_spark.serials import parquet_serial

    out = tmp_path / "out"
    _partitioned_write(spark, out)
    parts = sorted(glob.glob(str(out / "k=*" / "part-*")))
    assert len({os.path.dirname(p) for p in parts}) == 48
    for p in parts:
        assert os.path.isfile(os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")), p
    crcs = glob.glob(str(out / "k=*" / ".part-*.crc"))
    assert len(crcs) == len(parts)

    victim = parts[0]
    with open(victim, "r+b") as f:
        f.seek(os.path.getsize(victim) // 2)
        byte = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum error"):
        parquet_serial().read(spark, str(out)).collect()


def test_write_and_stream_drain_reap_no_child_process(spark, sf_dir, tmp_path):
    """Stock Hadoop without libhadoop forks ``chmod`` per written file
    and ``readlink`` per FileContext rename: 0.15-1.5 s of reaped child
    CPU for this write and 0.15-0.5 s for this drain. Each is measured on
    its second run, past any one-time class setup. The bound of 0.04 s
    leaves room for what Spark itself forks at garbage collection: an
    ``rm -rf`` of a collected session's artifact directory (each stream
    builder clones the session), about 1 ms of CPU each."""
    from porcupine_spark.plans.registry import load_all_plans

    tick = 1 / os.sysconf("SC_CLK_TCK")
    builder = load_all_plans()["stream_tumbling_agg"].builder
    for i in range(2):
        before = _reaped_child_ticks(spark)
        _partitioned_write(spark, tmp_path / f"out{i}")
        wrote = _reaped_child_ticks(spark)
        rows = builder(spark, sf_dir).collect()
        drained = _reaped_child_ticks(spark)
    assert rows
    assert (wrote - before) * tick <= 0.04
    assert (drained - wrote) * tick <= 0.04


def test_jar_is_built_from_the_committed_source():
    with open(build_jvm.SOURCE, "rb") as f:
        assert build_jvm.manifest_sha256() == hashlib.sha256(f.read()).hexdigest()


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs javac")
def test_jar_rebuilds_to_the_same_classes(tmp_path):
    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    rebuilt = build_jvm.build(str(tmp_path / "localfs.jar"))
    assert classes(rebuilt) == classes(build_jvm.JAR)


_LOCAL_CLUSTER = """
import json, os, sys
sys.path.insert(0, {root!r})
from porcupine_spark.plans.registry import load_all_plans
from porcupine_spark.serials import parquet_serial
from porcupine_spark.session import get_spark

spark = get_spark("localfs_cluster", **{{
    "spark.master": "local-cluster[1,1,1024]", "spark.driver.memory": "1g"}})
out = os.path.abspath("out")
parquet_serial().write(spark.range(480).selectExpr("id", "id % 48 AS k"), out, partition_by="k")
back = parquet_serial().read(spark, out)
stream = load_all_plans()["stream_tumbling_agg"].builder(spark, {sf_dir!r})
print("RESULT " + json.dumps({{
    "master": spark.sparkContext.master,
    "rows": back.count(), "ids": back.selectExpr("sum(id)").first()[0],
    "crcs": sum(f.endswith(".crc") for _, _, fs in os.walk(out) for f in fs),
    "stream_rows": stream.count()}}))
spark.stop()
"""


def test_local_cluster_executors_use_the_shipped_class(tmp_path, sf_dir):
    """Executors are separate JVMs: the partitioned write and the
    stream's state stores run there, and fail with ClassNotFound unless
    ``spark.jars`` ships the jar. The worker keeps its work directory
    under ``SPARK_HOME``, so the run gets a home of its own in
    ``tmp_path`` that links the installed ``bin`` and ``jars``."""
    from pyspark.find_spark_home import _find_spark_home

    home = tmp_path / "spark_home"
    home.mkdir()
    for sub in ("bin", "jars"):
        os.symlink(os.path.join(_find_spark_home(), sub), home / sub)
    run_dir = tmp_path / "run"
    run_dir.mkdir()
    env = dict(os.environ, SPARK_HOME=str(home), PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _LOCAL_CLUSTER.format(root=ROOT, sf_dir=sf_dir)],
        cwd=run_dir, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    errors = [ln for ln in proc.stderr.splitlines() if "Exception" in ln or "Error" in ln]
    assert proc.returncode == 0 and lines, "\n".join(errors[:20]) or proc.stderr[-4000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got["master"] == "local-cluster[1,1,1024]"
    assert (got["rows"], got["ids"]) == (480, sum(range(480)))
    assert got["crcs"] > 48
    assert got["stream_rows"] > 0
