"""`get_spark`'s opt-in event log is the plain JSON-lines form that
`perfbench/spans.py` reads, and each process gets its own default
warehouse."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_eventlog_dir_writes_a_log_read_events_can_read(tmp_path):
    # a subprocess: the event log is fixed when a context starts, and the
    # shared test session runs without it
    elog = tmp_path / "eventlog"
    script = textwrap.dedent(
        """
        import sys
        from sparkml_som_spark.session import get_spark
        from perfbench.spans import read_events

        spark = get_spark("eventlog-test", cores=1)
        spark.range(10).count()
        spark.stop()
        kinds = {ev.get("Event") for ev in read_events(sys.argv[1])}
        assert "SparkListenerJobStart" in kinds, sorted(kinds)
        """
    )
    env = dict(os.environ, SPARK_GRAFT_EVENTLOG_DIR=str(elog))
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    # the confs under test must come from get_spark, not the launcher
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(elog)],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def test_default_warehouse_is_per_process(spark):
    from urllib.parse import urlparse

    from sparkml_som_spark.session import default_warehouse

    script = textwrap.dedent(
        """
        import os
        from sparkml_som_spark.session import default_warehouse

        assert os.path.isdir(default_warehouse())
        print(default_warehouse())
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    dirs = []
    for _ in range(2):
        proc = subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=120
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        dirs.append(proc.stdout.strip())
    assert dirs[0] != dirs[1]
    # removed when its process exits
    assert not any(os.path.exists(d) for d in dirs), dirs
    want = os.environ.get("SPARK_GRAFT_WAREHOUSE") or default_warehouse()
    got = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    assert os.path.normpath(got) == os.path.abspath(want)
