"""Session lifetime and the small measurement helpers every workload uses."""

from __future__ import annotations

import statistics
import subprocess
import time

SETUP_SAMPLES = 3


class Session:
    """Starts, restarts and stops the engine's Spark session.

    ``start`` times ``session.get_spark`` plus one trivial job; the first
    start in a process also launches the JVM.
    """

    def __init__(self, cpus: int, extra_conf: dict[str, str]) -> None:
        self.cpus = cpus
        self.extra_conf = extra_conf
        self.spark = None
        self.starts: list[float] = []

    def start(self):
        from stedi_human_balance_redis_kafka_spark_streaming_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus, extra_conf=self.extra_conf)
        self.spark.range(1).count()
        self.starts.append(time.perf_counter() - t0)
        return self.spark

    def live_heap_mb(self) -> float:
        """Bytes of live objects on the JVM heap, after a full collection.

        The class histogram diagnostic command always runs a stop-the-world
        full GC first, unlike ``System.gc()``, which the engine's session
        makes concurrent (``-XX:+ExplicitGCInvokesConcurrent``) and which
        therefore leaves unreclaimed garbage in the count.
        """
        sc = self.spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        Class = jvm.java.lang.Class

        def array(kind, items):
            arr = gw.new_array(kind, len(items))
            for i, x in enumerate(items):
                arr[i] = x
            return arr

        # MBeanServer.invoke, looked up on the public interface: py4j cannot
        # call it on the server's own (module-private) class.
        invoke = Class.forName("javax.management.MBeanServer").getMethod("invoke", array(Class, [
            Class.forName(n) for n in (
                "javax.management.ObjectName", "java.lang.String",
                "[Ljava.lang.Object;", "[Ljava.lang.String;",
            )
        ]))
        server = jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer()
        call = array(jvm.java.lang.Object, [
            jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
            "gcClassHistogram",
            array(jvm.java.lang.Object, [gw.new_array(jvm.java.lang.String, 0)]),
            array(jvm.java.lang.String, ["[Ljava.lang.String;"]),
        ])
        total = invoke.invoke(server, call).strip().splitlines()[-1].split()
        return int(total[2]) / 2**20

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def persistent_rdds(spark) -> set:
    """Ids of the RDDs the session's context holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def percentile(values: list[float], p: int) -> float:
    """The p-th percentile (inclusive method); the median for p == 50."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)
