"""Generic quiet-host isolate: 7 fresh-process timed runs of the
named registry entries, after bench.py's full warm-up (JVM + python
workers + INDEX_WARMED), so an isolate reference for any entry needs
no new script.

Usage: python tools/isolate_entries.py <entry> [<entry> ...]
Prints one JSON line (the ISOLATES_r*.jsonl record format).
"""
import json
import os
import sys
import time

# resolve the repo from this file's location so interleaved A/B arms
# can run the tool from a second checkout (git worktree) of another
# commit — a hard-coded /root/repo would silently time the wrong tree
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_cpc_schema_spark import queries as Q  # noqa: E402
from etl_cpc_schema_spark.session import get_spark  # noqa: E402

names = sys.argv[1:]
if not names:
    raise SystemExit("usage: isolate_entries.py <entry> [<entry> ...]")
unknown = [n for n in names if n not in Q.SPARK_QUERIES]
if unknown:
    raise SystemExit(f"unknown entries: {unknown}")

# hypervisor CPU steal is the actual interference mechanism on this
# host (loadavg decays minutes after a steal wave and implicates
# nothing); one shared parser so the /proc/stat handling cannot drift
# between the bench and the isolate tool
from bench import _cpu_jiffies  # noqa: E402

spark = get_spark(app_name="isolate_entries")
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
load0 = os.getloadavg()[0]
tot0, steal0 = _cpu_jiffies()
Q.SPARK_QUERIES["q09_group_count"](spark, sf).collect()


def _warm_workers(batches):
    import numpy  # noqa: F401

    yield from batches


spark.range(256).repartition(64).mapInPandas(
    _warm_workers, schema="id long"
).collect()
for w in (
    "ann_ivfpq_appended",
    "ann_ivfpq_compacted",
    "ann_ivfpq_filtered",
    "stream_ann_probe",
):
    Q.SPARK_QUERIES[w](spark, sf).collect()

res = {}
for name in names:
    ts = []
    for _ in range(7):
        t0 = time.perf_counter()
        Q.SPARK_QUERIES[name](spark, sf).collect()
        ts.append(round(time.perf_counter() - t0, 3))
    res[name] = ts
tot1, steal1 = _cpu_jiffies()  # one snapshot: paired num/denominator
print(
    json.dumps(
        {
            "arm": os.environ.get("SPARK_GRAFT_ISOLATE_ARM", "isolate_entries"),
            "sf_dir": sf,
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg()[0],
            "steal_pct": round(
                100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
                3,
            ),
            "runs": res,
        }
    ),
    flush=True,
)
spark.stop()
