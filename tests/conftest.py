import os
import time

import pytest

DATA = os.path.join(os.path.dirname(__file__), "data")

# Shared scale-factor dir for tests that read the driver-generated
# parquet tables; overridable so the suite runs wherever the data
# lives (r7 ADVICE: the dtype-parity contract hardcoded this path).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from duckdb_httpd_log_spark import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


def data(*parts: str) -> str:
    return os.path.join(DATA, *parts)


@pytest.fixture()
def fleet(tmp_path):
    """Monthly rotated files (mtime just past their content); 5xx rows
    only in October."""
    d = tmp_path / "fleet"
    d.mkdir()
    months = {7: "Jul", 8: "Aug", 9: "Sep", 10: "Oct"}
    for month, mon in months.items():
        p = d / f"2024-{month:02d}.log"
        p.write_text("".join(
            f'10.0.{month}.{i} - u [{10 + i}/{mon}/2024:12:00:00 +0000] '
            f'"GET /m{month} HTTP/1.1" {503 if month == 10 else 200} {i} "-" "ua"\n'
            for i in range(3)
        ))
        mt = time.mktime((2024, month, 28, 0, 0, 0, 0, 0, 0))
        os.utime(p, (mt, mt))
    return str(d)


def dashboard_shapes() -> dict:
    """The dashboard benchmark's filter shapes, over the ``fleet``."""
    from pyspark.sql import functions as F

    return {
        "needle": F.col("path") == "/m8",
        "day": F.to_date("timestamp") == "2024-09-11",
        "since": F.col("timestamp") >= "2024-10-01 00:00:00",
        "listing": F.col("log_file").like("%/2024-08.log"),
        "status5xx": F.col("status") >= 500,
    }


def files_read(df) -> int:
    """Execute ``df`` and sum ``numFiles`` over its executed text scans:
    the files Spark's file index kept, i.e. opened. (``inputFiles()``
    lists the relation, not what a run reads.) AQE query stages are
    walked into. For a finished StreamingQuery, its last micro-batch."""
    if hasattr(df, "_jsq"):
        plan = df._jsq.streamingQuery().lastExecution().executedPlan()
    else:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if node.nodeName().startswith("Scan text"):
            total += node.metrics().apply("numFiles").value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total
