"""Spark session plumbing for the benchmark: pinned settings, shutdown, memory.

Everything a run writes stays under its work directory: Spark's local dirs,
the JVM's and Python's temp dirs, and the event log.
"""

from __future__ import annotations

import os
from pathlib import Path


def configure(root: Path, work: Path, spark_settings: dict, event_log: bool) -> dict[str, str]:
    """Set the environment the JVM and Python workers inherit; return extra_conf."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spark_settings["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the package (the map/reduce fns) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}", "spark.ui.showConsoleProgress": "false"}
    if event_log:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # each task reports the peak executor metrics (JVM heap) polled while it ran
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return conf


def shutdown(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF from its stdin
        proc.wait(timeout=60)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except OSError:  # exited while scanning
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Sum of VmHWM over this process and every live descendant (the driver,
    the JVM and the Python workers), and the same sum per program name."""
    kids = _children()
    per_name: dict[str, float] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            name = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            name = "?"
        per_name[name] = per_name.get(name, 0.0) + _hwm_kb(pid) / 1024.0
        todo.extend(kids.get(pid, ()))
    return sum(per_name.values()), per_name
