"""Process-level plumbing shared by every workload: where the run may write,
how the Spark driver is launched and stopped, spans, weather and memory.

Everything the benchmark or the engine writes stays inside the checkout:
``.bench_tmp/<pid>`` for scratch (removed at exit) and ``.bench_out`` for
the artifacts a run leaves behind (its record, and spans when traced).
"""

from __future__ import annotations

import contextlib
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".bench_out")
# Fits next to other tenants on a 15 GB host.  The initial heap equals the
# maximum so that heap growth, which follows GC timing, does not move the
# peak resident set from run to run.
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _sweep_dead(base: str) -> None:
    """Remove scratch left by runs that were killed before their cleanup."""
    for name in os.listdir(base) if os.path.isdir(base) else ():
        try:
            os.kill(int(name), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


class Env:
    """Scratch layout plus the launch environment of the driver JVM.

    Must be built before ``pyspark`` is imported: the JVM reads its options
    from ``PYSPARK_SUBMIT_ARGS`` when the first session starts.
    """

    def __init__(self, trace: bool):
        base = os.path.join(ROOT, ".bench_tmp")
        _sweep_dead(base)
        self.tmp = os.path.join(base, str(os.getpid()))
        self.event_dir = os.path.join(self.tmp, "eventlog") if trace else None
        for d in (self.tmp, OUT_DIR, self.event_dir):
            if d:
                os.makedirs(d, exist_ok=True)
        conf = {
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            # No hsperfdata: the JVM would write it to /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            # Uncompressed, unrolled: the default codec is zstd, which this
            # Python cannot read back.
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        args = ["--driver-memory", DRIVER_MEMORY]
        for k, v in conf.items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        # spark-submit first runs a launcher JVM that builds the driver's
        # command line; it sees none of the options above.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["TMPDIR"] = self.tmp
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def redirect_engine_scratch(self) -> None:
        """Point the engine's ``/tmp/sgraft_*`` scratch paths into the
        checkout and skip its sweep of other processes' ``/tmp`` dirs."""
        from kafka_spark_streaming_eval_spark import session

        original = session.scratch_dir
        prefix = os.path.join(self.tmp, "sgraft") + os.sep

        def scratch_dir(tag: str, *keys: str) -> str:
            return original(tag, *keys).replace("/tmp/", prefix, 1)

        session._SCRATCH_SWEPT = True
        session.scratch_dir = scratch_dir

    def cleanup(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)


class Spans:
    """In-memory spans (name, start, end, parent, run id) around calls into
    the engine's layers; written out once, at exit, by traced runs."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.items),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start_ms": time.time() * 1000,
            **attrs,
        }
        self.items.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["dur_s"] * 1000
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["dur_s"] for s in self.items if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f)


class Weather:
    """Hypervisor steal and pressure-stall deltas over the run.  Recorded as
    context only: it explains a slow run but never selects or drops one."""

    def __init__(self):
        self._start = self._sample()

    @staticmethod
    def _sample() -> dict:
        s = {}
        try:
            with open("/proc/stat") as f:
                ticks = [int(x) for x in f.readline().split()[1:]]
            s["total"], s["steal"] = sum(ticks), ticks[7]
        except (OSError, IndexError, ValueError):
            pass
        for res in ("cpu", "io"):
            try:
                with open(f"/proc/pressure/{res}") as f:
                    some = f.readline().split()[-1]
                s[f"psi_{res}_us"] = int(some.split("=")[1])
            except (OSError, IndexError, ValueError):
                pass
        return s

    def finish(self) -> dict:
        end, start = self._sample(), self._start
        out = {}
        if "total" in end and "total" in start and end["total"] > start["total"]:
            out["steal_pct"] = 100 * (end["steal"] - start["steal"]) / (
                end["total"] - start["total"]
            )
        for k in ("psi_cpu_us", "psi_io_us"):
            if k in end and k in start:
                out[k.replace("_us", "_ms")] = (end[k] - start[k]) / 1000
        return out


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


def start_spark(spans: Spans):
    from kafka_spark_streaming_eval_spark.session import get_spark

    with spans.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()
        proc.wait(timeout=60)
