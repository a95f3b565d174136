"""Two-host standalone Spark topology on one machine: a Master plus two
Workers advertising distinct loopback addresses (127.0.0.2 / 127.0.0.3),
which the scheduler treats as two hosts.

Use it when host distinctness matters: a speculative task copy is never
placed on a host that already runs an attempt of the task, so no
single-host master (``local[*]``, ``local-cluster``) can launch one.

    import cluster
    procs = cluster.start_cluster(scratch_dir)
    try:
        ...  # SparkSession.builder.master(cluster.MASTER_URL)
             #   .config("spark.driver.host", "127.0.0.1")
    finally:
        cluster.stop_cluster(procs)
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

MASTER_URL = "spark://127.0.0.1:7177"
WORKER_HOSTS = ("127.0.0.2", "127.0.0.3")


def _pyspark_home() -> str:
    import pyspark

    return os.path.dirname(os.path.abspath(pyspark.__file__))


def start_cluster(scratch: str) -> list:
    """Start a standalone master and two distinct-host loopback workers.

    Returns the daemon Popen handles.  SPARK_HOME must point at the
    pyspark package (it carries jars/) and SPARK_SCALA_VERSION must be
    pinned — the worker's executor command builder otherwise scans for
    source-tree build directories and dies with "Cannot find any build
    directories".
    """
    home = _pyspark_home()
    cp = os.path.join(home, "jars", "*")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    env = dict(
        os.environ, SPARK_HOME=home, SPARK_SCALA_VERSION="2.13", SPARK_LOG_DIR=scratch
    )
    procs = []
    master_log = open(os.path.join(scratch, "master.log"), "w")
    procs.append(
        subprocess.Popen(
            [java, "-cp", cp, "-Xmx1g", "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", "7177", "--webui-port", "8199"],
            stdout=master_log, stderr=subprocess.STDOUT, env=env,
        )
    )
    time.sleep(4)
    for i, host in enumerate(WORKER_HOSTS):
        work_dir = os.path.join(scratch, f"work{i}")
        os.makedirs(work_dir, exist_ok=True)
        wlog = open(os.path.join(scratch, f"worker{i}.log"), "w")
        wenv = dict(env, SPARK_LOCAL_HOSTNAME=host)
        procs.append(
            subprocess.Popen(
                [java, "-cp", cp, "-Xmx1g", "org.apache.spark.deploy.worker.Worker",
                 MASTER_URL, "--host", host, "--cores", "4", "--memory", "4g",
                 "--work-dir", work_dir, "--webui-port", str(8197 - i)],
                stdout=wlog, stderr=subprocess.STDOUT, env=wenv,
            )
        )
    time.sleep(5)
    return procs


def stop_cluster(procs: list) -> None:
    for p in procs:
        try:
            p.send_signal(signal.SIGTERM)
        except OSError:
            pass
    for p in procs:
        try:
            p.wait(timeout=15)
        except Exception:
            p.kill()
