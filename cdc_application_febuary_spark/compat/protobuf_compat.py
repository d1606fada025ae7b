"""Best-effort `google.protobuf` availability for transformWithState.

Spark 4's transformWithStateInPandas rides a protobuf protocol between the
Python worker and the JVM state server; the generated
``pyspark/sql/streaming/proto/StateMessage_pb2.py`` imports
``google.protobuf`` unconditionally. This container has no protobuf
install, but the machine's google-cloud-sdk ships the public pure-Python
4.23 runtime. ``ensure_protobuf()`` bridges it in via the repo's
``vendor/pbcompat`` shim package (path-extension + a ``runtime_version``
stub) — and, critically, exports the same paths through ``PYTHONPATH`` so
Spark's *Python workers* (separate processes that re-import the proto
modules) resolve it too.

Call ``ensure_protobuf()`` BEFORE creating the SparkSession whose workers
need it: PythonRunner snapshots the driver's PYTHONPATH when the context
launches worker daemons.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from ..tempdirs import scratch_dir

_SDK_ROOT = "/usr/lib/google-cloud-sdk/lib/third_party"
_VENDOR = str(Path(__file__).resolve().parents[2] / "vendor" / "pbcompat")


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable here and in Spark workers.

    Returns True when protobuf (real or bridged) is usable; False when
    neither a real install nor the SDK runtime exists. Never raises."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if not (
        os.path.isdir(os.path.join(_SDK_ROOT, "cloudsdk/google/protobuf"))
        and os.path.isdir(os.path.join(_VENDOR, "google/protobuf"))
    ):
        return False
    for p in (_VENDOR, _SDK_ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    extra = os.pathsep.join((_VENDOR, _SDK_ROOT))
    current = os.environ.get("PYTHONPATH", "")
    if _VENDOR not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{extra}{os.pathsep}{current}" if current else extra
        )
    # drop any half-imported namespace remnants so the shim wins
    for mod in ("google", "google.protobuf"):
        existing = sys.modules.get(mod)
        if existing is not None and not getattr(existing, "__file__", None):
            del sys.modules[mod]
    try:
        import google.protobuf  # noqa: F401
        from google.protobuf import runtime_version  # noqa: F401

        return True
    except ImportError:
        pass
    # last resort: a long-lived session can cache a `google` namespace
    # whose _path snapshot predates the sys.path insertions above (seen
    # once as an order-dependent skip in the full pytest run) — purge the
    # whole google.* subtree unconditionally and retry from scratch.
    for mod in [m for m in list(sys.modules) if m == "google"
                or m.startswith("google.")]:
        del sys.modules[mod]
    try:
        import google.protobuf  # noqa: F401
        from google.protobuf import runtime_version  # noqa: F401

        return True
    except ImportError:
        return False


_ZIP_CACHE: dict[str, str] = {}


def ensure_protobuf_on_workers(spark) -> bool:
    """Bridge ``google.protobuf`` into the Python workers of an
    ALREADY-RUNNING SparkSession.

    :func:`ensure_protobuf` relies on exporting PYTHONPATH *before* the
    JVM launches (workers snapshot it then). A driver that builds its
    session before importing the engine misses that window — so this
    variant ships the bridge through ``sc.addPyFile``: a zip of the
    vendor shim (google/protobuf path-extension + runtime_version stub)
    plus a ``cloudsdk`` path-extension stub, each resolving to the
    machine's absolute SDK runtime. addPyFile entries join every
    worker's sys.path at task setup, no environment needed. Idempotent;
    harmless when PYTHONPATH was already exported."""
    if not ensure_protobuf():
        return False
    import zipfile

    key = "bridge"
    zpath = _ZIP_CACHE.get(key)
    if zpath is None or not os.path.exists(zpath):
        zdir = scratch_dir("pbcompat_")
        zpath = os.path.join(zdir, "pbcompat_bridge.zip")
        vendor = Path(_VENDOR)
        with zipfile.ZipFile(zpath, "w") as z:
            for rel in (
                "google/__init__.py",
                "google/protobuf/__init__.py",
                "google/protobuf/runtime_version.py",
            ):
                z.write(str(vendor / rel), rel)
            z.writestr(
                "cloudsdk/__init__.py",
                "import os as _os\n"
                f"_SDK = {_SDK_ROOT + '/cloudsdk'!r}\n"
                "if _os.path.isdir(_SDK):\n"
                "    __path__.append(_SDK)\n",
            )
        _ZIP_CACHE[key] = zpath
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # double-add in one context raises on some versions — fine
    # addPyFile covers ordinary task workers, but the transformWithState
    # state-protocol runner builds its OWN python worker factory whose
    # environment comes from the live SparkConf, not the includes list —
    # without this it resolves `google` to the empty namespace package
    # inside spark-core.jar ("unknown location" ImportError). The factory
    # is created lazily at first use, so mutating the JVM-side conf
    # before the stream starts is effective.
    try:
        jconf = spark.sparkContext._jsc.sc().conf()
        extra = os.pathsep.join((_VENDOR, _SDK_ROOT))
        current = jconf.get("spark.executorEnv.PYTHONPATH", "")
        if _VENDOR not in current.split(os.pathsep):
            jconf.set(
                "spark.executorEnv.PYTHONPATH",
                f"{extra}{os.pathsep}{current}" if current else extra,
            )
    except Exception:
        pass
    return True
