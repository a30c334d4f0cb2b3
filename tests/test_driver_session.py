"""The verification driver passes its OWN SparkSession to
entry()/queries() — typically built without nanosAsLong (events reads
would throw PARQUET_TYPE_ILLEGAL) and possibly with a non-UTC session
timezone (date_trunc/window results would shift vs the DuckDB oracle).

This test runs representative queries in a subprocess whose session is
deliberately hostile (America/New_York, no nanos flag) and checks the
results still match DuckDB exactly."""

from __future__ import annotations

import os
import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import duckdb
import __spark_entry__ as e
from verify_queries import compare

sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

names = ["recent_activity", "windowed_event_counts", "quarterly_deal_trend",
         "epoch_roundtrip", "latest_event_per_user", "campaign_stats",
         "scd2_golden_merge", "scd2_golden_changelog", "user_value_trend"]
qs, oracles = e.queries(), e.oracle_sql()
failures = []
for name in names:
    sdf = qs[name](spark, sf).toPandas()
    odf = con.execute(oracles[name]).fetchdf()
    problems = compare(name, sdf, odf)
    if problems:
        failures.append((name, problems))
if failures:
    for name, p in failures:
        print("FAIL", name, p)
    sys.exit(1)
print("ALL_MATCH")
"""


def test_queries_survive_hostile_driver_session():
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True, timeout=300
    )
    assert "ALL_MATCH" in res.stdout, f"stdout:\n{res.stdout}\nstderr:\n{res.stderr[-2000:]}"


DRIFT_SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from hubspot_neo4j_pipeline_spark.session import get_spark

spark = get_spark(cpus=4, shuffle_partitions=4)

# Re-request with runtime-settable confs: applied to the live session.
s2 = get_spark(shuffle_partitions=8, extra_conf={"spark.sql.session.timeZone": "UTC"})
assert s2 is spark
assert spark.conf.get("spark.sql.shuffle.partitions") == "8"

# Re-request with an unsatisfiable static conf: must fail loudly,
# never silently return a session with the wrong settings.
try:
    get_spark(extra_conf={"spark.driver.memory": "99g"})
except RuntimeError as exc:
    assert "spark.driver.memory" in str(exc)
else:
    raise SystemExit("static-conf drift was silently ignored")

# Re-request a different master: also loud.
try:
    get_spark(cpus=2)
except RuntimeError as exc:
    assert "spark.master" in str(exc)
else:
    raise SystemExit("master drift was silently ignored")

print("DRIFT_GUARDED")
"""


def test_get_spark_detects_config_drift():
    """getOrCreate silently ignoring configs on a second call was a
    documented nit (session.py); the guard applies runtime confs and
    raises on unsatisfiable static ones. Runs in a subprocess so the
    shared test session is untouched."""
    res = subprocess.run(
        [sys.executable, "-c", DRIFT_SCRIPT], capture_output=True, text=True, timeout=300
    )
    assert "DRIFT_GUARDED" in res.stdout, f"stdout:\n{res.stdout}\nstderr:\n{res.stderr[-2000:]}"


JVM_OPTIONS_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from hubspot_neo4j_pipeline_spark.session import get_spark

spark = get_spark(cpus=2, extra_conf={"spark.driver.extraJavaOptions": "-Dhnps.probe=1"})
jvm = spark.sparkContext._jvm
mgmt = jvm.java.lang.management.ManagementFactory
hotspot = mgmt.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
print("CICompilerCount=" + hotspot.getVMOption("CICompilerCount").getValue())
print("hnps.probe=" + str(jvm.java.lang.System.getProperty("hnps.probe")))
print("args=" + " ".join(mgmt.getRuntimeMXBean().getInputArguments()))
"""


def test_engine_jvm_options_compose_with_caller_options():
    """The engine's driver JVM flags (compile budget, -Xlog:disable)
    sit in spark.driver.defaultJavaOptions, so a caller's own
    spark.driver.extraJavaOptions adds to them instead of replacing
    them."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", JVM_OPTIONS_SCRIPT, repo],
        capture_output=True,
        text=True,
        timeout=300,
    )
    out = dict(
        line.split("=", 1) for line in res.stdout.splitlines() if "=" in line
    )
    assert out.get("CICompilerCount") == "2", f"stdout:\n{res.stdout}\nstderr:\n{res.stderr[-2000:]}"
    assert out["hnps.probe"] == "1"
    assert "-Xlog:disable" in out["args"].split()


DEBUGGING_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
sys.path.insert(0, sys.argv[1] + "/tools")
from pyspark.errors import PySparkException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from hubspot_neo4j_pipeline_spark.session import get_spark
from py4j_calls import py4j_calls

spark = get_spark(cpus=2)
print("conf=" + spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"))
print("debugging=" + str(is_debugging_enabled()))
with py4j_calls() as calls:
    bad = F.lit("x").cast("int")
print("origin_calls=" + str(calls.counts.get("set", 0) + calls.counts.get("clear", 0)))
try:
    spark.range(1).select(bad).collect()
except PySparkException as exc:
    print("condition=" + str(exc.getCondition()))
    print("has_message=" + str("'x'" in str(exc)))
"""


def test_engine_session_skips_dataframe_origin_capture():
    """The engine's sessions run with DataFrame debugging off: no
    per-Column call-site capture (no JVM origin set/clear round trips),
    while a failing query still raises its error condition. Runs in a
    subprocess because PySpark caches is_debugging_enabled() per
    process."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", DEBUGGING_SCRIPT, repo],
        capture_output=True,
        text=True,
        timeout=300,
    )
    out = dict(
        line.split("=", 1) for line in res.stdout.splitlines() if "=" in line
    )
    assert out.get("conf") == "false", f"stdout:\n{res.stdout}\nstderr:\n{res.stderr[-2000:]}"
    assert out["debugging"] == "False"
    assert out["origin_calls"] == "0"
    assert out["condition"] == "CAST_INVALID_INPUT"
    assert out["has_message"] == "True"
