"""Python workers of a local session talk to the JVM over Unix domain
sockets in a short private directory, whatever the temp paths are."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = """
import json, os, stat, sys
from gfw_pixetl_spark.session import get_spark, local_frame

tmp = os.environ["TMPDIR"]
spark = get_spark("uds-probe", master="local[2]", extra_conf={
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + tmp})
spark.sparkContext.setLogLevel("ERROR")

def double(batches):
    for pdf in batches:
        yield pdf * 2

rows = local_frame(spark, [(1,), (2,), (3,)], "i long").mapInPandas(
    double, "i long").collect()
sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
print(json.dumps({
    "rows": sorted(r.i for r in rows),
    "uds": spark.conf.get("spark.python.unix.domain.socket.enabled"),
    "dir": sock_dir,
    "mode": stat.S_IMODE(os.lstat(sock_dir).st_mode),
    "owner": os.lstat(sock_dir).st_uid,
}))
spark.stop()
"""


def test_local_session_uses_private_unix_sockets(tmp_path):
    long_tmp = tmp_path / ("t" * 90)
    long_tmp.mkdir()
    assert len(str(long_tmp)) > 80
    env = dict(os.environ, TMPDIR=str(long_tmp),
               PYTHONPATH=os.pathsep.join(
                   [str(REPO)] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]))
    proc = subprocess.run([sys.executable, "-c", _SCRIPT], env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == [2, 4, 6]
    assert out["uds"] == "true"
    assert out["mode"] == 0o700 and out["owner"] == os.getuid()
    # room for Spark's "/.<uuid4>.sock" within AF_UNIX's 107 bytes
    assert len(out["dir"]) + len("/.") + 36 + len(".sock") <= 107
    assert not out["dir"].startswith(str(long_tmp))
