"""The NIO local filesystem (``jvm/``, installed by ``session.get_spark``):
sessions resolve ``file:`` to it on both Hadoop APIs, and it behaves like
stock ``RawLocalFileSystem``/``LocalFs`` for modes, link status and the
checkpoint's rename-without-overwrite, without forking a process. The jar
must be what its source builds to."""

import os
import shutil
import stat
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from cdc_application_febuary_spark import session

ROOT = Path(__file__).resolve().parent.parent
UMASK = "027"


@pytest.fixture()
def hadoop(spark):
    """(jvm, gateway, conf): a copy of the session's Hadoop conf with a
    non-default umask, so mode bits show the umask being applied."""
    sc = spark.sparkContext
    conf = sc._jvm.org.apache.hadoop.conf.Configuration(
        sc._jsc.hadoopConfiguration()
    )
    conf.set("fs.permissions.umask-mode", UMASK)
    return sc._jvm, sc._gateway, conf


def _stock_conf(jvm, conf):
    stock = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    return stock


def _filesystems(jvm, conf):
    """(shim, stock) FileSystem instances, uncached."""
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem
    return fs.newInstance(uri, conf), fs.newInstance(uri, _stock_conf(jvm, conf))


def _contexts(jvm, conf):
    fc = jvm.org.apache.hadoop.fs.FileContext
    return fc.getLocalFSFileContext(conf), fc.getLocalFSFileContext(_stock_conf(jvm, conf))


def _mode(path):
    return stat.S_IMODE(os.stat(path).st_mode)


def _java_error(excinfo):
    return excinfo.value.java_exception.getClass().getName()


def test_sessions_resolve_file_scheme_to_the_shim(spark):
    sc = spark.sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == "cdcengine.fs.NioLocalFileSystem"
    assert fs.getRawFileSystem().getClass().getName() == "cdcengine.fs.NioRawLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "cdcengine.fs.NioLocalFs"


def test_created_files_and_dirs_get_stock_modes(hadoop, tmp_path):
    jvm, gateway, conf = hadoop
    hfs = jvm.org.apache.hadoop.fs
    no_opts = gateway.new_array(hfs.Options.CreateOpts, 0)
    create = jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE)
    classes = {
        "shim": ["NioLocalFileSystem", "NioLocalFs"],
        "stock": ["LocalFileSystem", "LocalFs"],
    }
    modes = {}
    for side, fs, fc in zip(classes, _filesystems(jvm, conf), _contexts(jvm, conf)):
        got = [x.getClass().getSimpleName() for x in (fs, fc.getDefaultFileSystem())]
        assert got == classes[side]
        base = tmp_path / side
        f = hfs.Path(str(base / "a" / "b" / "f.bin"))
        fs.mkdirs(hfs.Path(str(base / "a" / "b")))
        fs.create(f).close()
        fs.setPermission(f, hfs.permission.FsPermission.valueOf("-rw-r-x--x"))
        fc.mkdir(hfs.Path(str(base / "ctx")), hfs.permission.FsPermission.getDirDefault(), True)
        fc.create(hfs.Path(str(base / "ctx" / "g.bin")), create, no_opts).close()
        modes[side] = {
            str(p.relative_to(base)): _mode(p) for p in sorted(base.rglob("*"))
        }
    assert "ctx/.g.bin.crc" in modes["shim"] and "a/b/.f.bin.crc" in modes["shim"]
    assert modes["shim"] == modes["stock"]
    assert modes["shim"]["a/b"] == 0o750 and modes["shim"]["ctx/g.bin"] == 0o640
    assert modes["shim"]["a/b/f.bin"] == 0o651


def test_file_link_status_matches_stock(hadoop, tmp_path):
    jvm, _, conf = hadoop
    Path_ = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "file").write_text("x" * 10)
    (tmp_path / "link").symlink_to(tmp_path / "file")
    shim, stock = (fs.getRawFileSystem() for fs in _filesystems(jvm, conf))
    assert shim.getClass().getName() == "cdcengine.fs.NioRawLocalFileSystem"
    assert stock.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"

    def status(fs, name):
        st = fs.getFileLinkStatus(Path_(str(tmp_path / name)))
        return (st.getPath().toString(), st.isFile(), st.isDirectory(), st.isSymlink(),
                st.getLen(), st.getModificationTime(), st.getPermission().toString())

    for name in ("file", "link"):
        assert status(shim, name) == status(stock, name)
    errors = []
    for fs in (shim, stock):
        with pytest.raises(Py4JJavaError) as excinfo:
            status(fs, "missing")
        errors.append(_java_error(excinfo))
    assert errors == ["java.io.FileNotFoundException"] * 2


def test_rename_without_overwrite_still_refuses(hadoop, tmp_path):
    """The streaming checkpoint's guard against a concurrent writer."""
    jvm, gateway, conf = hadoop
    Path_ = jvm.org.apache.hadoop.fs.Path
    fc, _ = _contexts(jvm, conf)
    (tmp_path / "src").write_text("new")
    (tmp_path / "dst").write_text("old")
    no_overwrite = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    no_overwrite[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    with pytest.raises(Py4JJavaError) as excinfo:
        fc.rename(Path_(str(tmp_path / "src")), Path_(str(tmp_path / "dst")), no_overwrite)
    assert _java_error(excinfo) == "org.apache.hadoop.fs.FileAlreadyExistsException"
    assert (tmp_path / "dst").read_text() == "old"
    assert (tmp_path / "src").read_text() == "new"


def test_sticky_mode_still_applies(hadoop, tmp_path):
    """Bits outside 0777 go to the stock (forking) path, which sets them."""
    jvm, _, conf = hadoop
    shim, _ = _filesystems(jvm, conf)
    (tmp_path / "d").mkdir()
    sticky = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf("drwxrwxrwt")
    shim.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "d")), sticky)
    assert _mode(tmp_path / "d") == 0o1777


class _Gateway:
    """A py4j gateway stand-in whose JVM can or cannot load a class."""

    def __init__(self, loadable):
        self.asked = []
        self.jvm = self.org = self.apache = self.spark = self.util = self.Utils = self
        self.loadable = loadable

    def classIsLoadable(self, name):
        self.asked.append(name)
        return self.loadable


def test_fs_confs_only_for_a_jvm_that_loads_the_jar(spark):
    assert session.nio_fs_confs(None) == session.NIO_FS_CONFS  # JVM not started
    assert session.nio_fs_confs(spark.sparkContext._gateway) == session.NIO_FS_CONFS
    without_jar = _Gateway(False)
    assert session.nio_fs_confs(without_jar) == {}
    assert without_jar.asked == ["cdcengine.fs.NioLocalFileSystem"]
    assert Path(session.NIO_FS_JAR).is_file()


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH to rebuild the jar")
def test_committed_jar_matches_its_source(tmp_path):
    out = tmp_path / "rebuilt.jar"
    subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "build_nio_localfs.py"), "--out", str(out)],
        check=True,
    )

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    committed = classes(session.NIO_FS_JAR)
    assert set(committed) == {
        "cdcengine/fs/NioRawLocalFileSystem.class",
        "cdcengine/fs/NioLocalFileSystem.class",
        "cdcengine/fs/NioLocalFs.class",
        "cdcengine/fs/NioLocalFs$Raw.class",
    }
    assert classes(out) == committed
