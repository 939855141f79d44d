"""The job server process of the ``jobs_open_loop`` workload: a session
from ``session.get_spark`` and a ``webclient.JobServer`` with default
settings on an ephemeral port.

Usage: python3 perfbench/job_server.py <ready_file>

Once listening it writes ``{"port", "ui", "app_id", "get_spark_s",
"session"}`` to ``ready_file`` and serves until it is killed.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time


def main(ready_file: str) -> int:
    t0 = time.time()
    from sdc_mapreduce_spark.session import get_spark
    from sdc_mapreduce_spark.webclient import JobServer

    spark = get_spark("perfbench-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.time() - t0
    server = JobServer(spark)
    server.start()
    sc = spark.sparkContext
    tmp = ready_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "port": server.port,
                "ui": sc.uiWebUrl,
                "app_id": sc.applicationId,
                "get_spark_s": get_spark_s,
                "session": {
                    "master": sc.master,
                    "default_parallelism": sc.defaultParallelism,
                    "driver_memory": sc.getConf().get("spark.driver.memory", None),
                },
            },
            f,
        )
    os.replace(tmp, ready_file)
    threading.Event().wait()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
