"""The driver JVM settings `get_spark` starts a session with."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from movie_rec_spark.session import DRIVER_JIT_OPTIONS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TIER4 = {"Tier4InvocationThreshold": "15000",
         "Tier4MinInvocationThreshold": "1800",
         "Tier4CompileThreshold": "45000",
         "Tier4BackEdgeThreshold": "120000"}


def vm_option(spark, name: str) -> str:
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption(name).getValue()


def test_driver_jvm_defers_c2(spark):
    assert DRIVER_JIT_OPTIONS.split() == [f"-XX:{k}={v}" for k, v in TIER4.items()]
    assert {k: vm_option(spark, k) for k in TIER4} == TIER4


CHILD = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, {repo!r})
    from movie_rec_spark.session import get_spark
    from movie_rec_spark.sources.catalog import load_table
    sys.path.insert(0, {tests!r})
    from test_session import vm_option
    spark = get_spark("session-test", shuffle_partitions=1)
    sc = spark.sparkContext
    load_table(spark, {sf!r}, "region")
    print(json.dumps({{
        "pkg": [p for p in os.listdir(os.environ["TMPDIR"])
                if p.startswith("mrs_pkg_")],
        "tmpdir": spark._jvm.java.lang.System.getProperty("java.io.tmpdir"),
        "invocation": vm_option(spark, "Tier4InvocationThreshold"),
        "compile": vm_option(spark, "Tier4CompileThreshold"),
        "parallelism": sc.defaultParallelism,
        "ckpt": sc.getCheckpointDir(),
    }}))
""")


def test_caller_options_win_and_process_exits_clean(tmp_path):
    """One fresh JVM: the caller's --driver-java-options come after the
    library's, the task-thread default follows the CPUs this process
    may use, and the checkpoint dir `get_spark` made and the package
    zip dir `load_table` made are gone at exit."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_CHECKPOINT_DIR")}
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_DRIVER_MEM": "1g",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:Tier4InvocationThreshold=5000' "
            "pyspark-shell"),
    })
    script = CHILD.format(repo=REPO, tests=os.path.join(REPO, "tests"),
                          sf="/root/testdata/sf0.001")
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])

    assert got["tmpdir"] == str(tmp)
    assert got["invocation"] == "5000"
    assert got["compile"] == TIER4["Tier4CompileThreshold"]
    assert got["parallelism"] == len(os.sched_getaffinity(0))
    ckpt = got["ckpt"].removeprefix("file:")
    assert os.path.basename(os.path.dirname(ckpt)).startswith("mrs_ckpt_")
    assert os.path.dirname(os.path.dirname(ckpt)) == str(tmp)
    assert not os.path.exists(os.path.dirname(ckpt))
    assert not any(p.name.startswith("mrs_ckpt_") for p in tmp.iterdir())
    assert len(got["pkg"]) == 1
    assert not any(p.name.startswith("mrs_pkg_") for p in tmp.iterdir())
