"""Pieces shared by the workloads: the work directory, Spark sessions and
the summary statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile

CORES = min(4, os.cpu_count() or 1)


class Work:
    """Scratch space inside the checkout; everything a run writes lives
    here and is removed when the run ends. While it exists, temp files of
    this process and of the JVMs it launches go there too; ``remove``
    restores the previous settings before it deletes the directory."""

    ENV = ("TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")

    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, ".perfbench_work", f"{name}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        self._saved_env = {k: os.environ.get(k) for k in self.ENV}
        self._saved_tempdir = tempfile.tempdir
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # the launcher and driver JVMs: temp files and perf data stay here
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        tempfile.tempdir = self.path("tmp")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def remove(self) -> None:
        for k, v in self._saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = self._saved_tempdir
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))
        except OSError:  # another run still uses it
            pass


def start_spark(work: Work, cores: int, event_dir: str | None = None, extra=None):
    """A session through the program's own factory. Local, spill and
    warehouse directories stay inside the work directory."""
    from cord19_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": work.path("local"),
        "spark.sql.warehouse.dir": work.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    conf.update(extra or {})
    _forget_udf_contexts()
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def _forget_udf_contexts() -> None:
    """pyspark caches the JVM side of a UDF on the UDF object, bound to the
    accumulator of the context it was first used in. The program defines
    UDFs at module level, so after a context restart in this process each
    task would report to the stopped context's accumulator server and fail.
    Drop those caches so the next use binds to the new context."""
    import sys

    from pyspark.sql.udf import UserDefinedFunction

    for name, module in list(sys.modules.items()):
        if not name.startswith("cord19_crawler_spark") or module is None:
            continue
        for obj in vars(module).values():
            udf = getattr(obj, "_unwrapped", obj)
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None


def shutdown_jvm() -> None:
    """Stop the driver JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the UDF caches point into the JVM that just exited
    _forget_udf_contexts()


def median(xs) -> float:
    return float(statistics.median(xs))
