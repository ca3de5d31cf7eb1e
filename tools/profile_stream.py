"""One-off diagnostic for the streaming per-drain floor (r13):
replicate a drain with the same helpers the registered queries use
and print per-micro-batch progress (planning / getBatch / addBatch /
state-store metrics), so the fixed cost can be attributed. Read-only.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from mapreduce511_spark.memo import session_conf  # noqa: E402
from mapreduce511_spark.queries.streaming_queries import (  # noqa: E402
    _scratch_run,
    _shared_events_src,
)
from mapreduce511_spark.session import get_spark  # noqa: E402
from mapreduce511_spark.streaming import (  # noqa: E402
    STATE_PARTITIONS,
    stream_events,
    tumbling_counts,
)

spark = get_spark("profile_stream")
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()

t0 = time.time()
src = _shared_events_src(spark, sf_dir)
print(f"stage events src: {time.time() - t0:.2f}s -> {src}")
print("files in src:", len([f for f in os.listdir(src) if f.endswith('.parquet')]))

for run in range(3):
    with _scratch_run("prof") as (ckpt, name):
        stream = stream_events(spark, src, max_files_per_trigger=4)
        agg = tumbling_counts(stream)
        with session_conf(
            spark, "spark.sql.shuffle.partitions", str(STATE_PARTITIONS)
        ):
            t1 = time.time()
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            wall = time.time() - t1
        n = spark.sql(f"SELECT count(*) FROM {name}").collect()[0][0]
        print(f"\nrun {run}: drain wall {wall:.2f}s, rows={n}, batches={len(q.recentProgress)}")
        for p in q.recentProgress:
            d = p["durationMs"]
            rows = p.get("numInputRows", 0)
            so = p.get("stateOperators") or []
            st = so[0] if so else {}
            print(
                f"  batch {p['batchId']}: total={d.get('triggerExecution')}ms "
                f"planning={d.get('queryPlanning')}ms getBatch={d.get('getBatch')}ms "
                f"latestOffset={d.get('latestOffset')}ms addBatch={d.get('addBatch')}ms "
                f"walCommit={d.get('walCommit')}ms commitOffsets={d.get('commitOffsets')}ms "
                f"rows={rows} "
                f"stateCommit={st.get('allUpdatesTimeMs', '-')}/{st.get('commitTimeMs', '-')}ms "
                f"stores={st.get('numStateStoreInstances', '-')}"
            )
        spark.catalog.dropTempView(name)

spark.stop()
