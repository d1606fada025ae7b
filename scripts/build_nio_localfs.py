#!/usr/bin/env python
"""Build the NIO local-filesystem jar from its Java source.

The jar (``cdc_application_febuary_spark/jvm/nio-localfs.jar``, committed
next to its source under ``jvm/src``) is what ``session.get_spark`` puts on
the driver and executor classpaths. It compiles with ``javac --release 17``
against pyspark's own ``jars/`` (Hadoop's client API), so it links against
exactly the Hadoop that runs it. Entry timestamps are pinned, and
``tests/test_nio_localfs.py`` checks that a rebuild gives the committed
``.class`` bytes.

Usage: python scripts/build_nio_localfs.py [--out path/to.jar]
"""

import argparse
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pyspark

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from cdc_application_febuary_spark.session import NIO_FS_JAR  # noqa: E402


def build(out: Path) -> Path:
    sources = sorted(str(p) for p in (Path(NIO_FS_JAR).parent / "src").rglob("*.java"))
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, *sources],
            check=True,
        )
        out.parent.mkdir(parents=True, exist_ok=True)
        subprocess.run(
            ["jar", "--create", "--no-manifest", "--date=2000-01-01T00:00:00Z",
             "--file", str(out), "-C", classes, "."],
            check=True,
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", type=Path, default=Path(NIO_FS_JAR))
    print(build(ap.parse_args().out))


if __name__ == "__main__":
    main()
