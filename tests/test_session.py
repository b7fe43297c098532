"""Session defaults that only a new JVM can show."""

import json
import os
import subprocess
import sys

PROBE = """
import json
from substreams_sink_graph_load_spark.session import get_spark

spark = get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dgraphload.probe=1"})
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({
    "tiered_stop": hotspot.getVMOption("TieredStopAtLevel").getValue(),
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


def test_command_jvm_is_c1_only_and_keeps_caller_options():
    """``get_spark``'s driver JVM stops tiered compilation at C1, and a
    caller's ``spark.driver.extraJavaOptions`` still reach it.  It runs in
    its own process: the shared test session keeps C2."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr
    probe = json.loads(proc.stdout.strip().splitlines()[-1])
    assert probe["tiered_stop"] == "1", probe
    assert "-Dgraphload.probe=1" in probe["args"], probe
