"""Probe the sandbox's hardware ceilings that bound scaling efficiency.

Three measurements, each isolating one layer (results feed the analysis
in BENCH/BASELINE.md):

1. pure-CPU scaling: N python processes doing numpy sin() on a small
   in-cache array — measures whether the box has real cores.
2. memory-bandwidth scaling: N processes copying a 1 GB numpy array —
   measures the aggregate memory bandwidth available.
3. Arrow-exchange throughput: a noop mapInArrow over the scaling clip
   table at two core counts — measures the end-to-end parquet→JVM→python
   byte-pipeline ceiling that the audio-decode stage rides.

Usage: python tools/bandwidth_probe.py [clips_parquet_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])

CPU_CODE = """
import numpy as np, time
x = np.arange(8000) / 8000.0
t0 = time.time()
for i in range(40000):
    np.sin(x * (i % 977) * 0.001)
print(time.time() - t0)
"""

MEM_CODE = """
import numpy as np, time
a = np.zeros(1_000_000_000 // 8, dtype=np.float64)
t0 = time.time(); n = 0
while time.time() - t0 < 5 and n < 50:
    b = a.copy(); del b; n += 1
print(n * 2.0 / (time.time() - t0))  # GB/s touched (read+write)
"""


def fanout(code: str, procs: int) -> list[float]:
    ps = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
        for _ in range(procs)
    ]
    return [float(p.communicate()[0]) for p in ps]


def arrow_probe(data_dir: str, cores: int) -> float:
    code = f"""
import sys, time
sys.path.insert(0, {REPO!r})
import pyarrow as pa
from use_case_real_time_anomaly_detection_spark.session import get_spark
spark = get_spark("local[{cores}]", extra_confs={{
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.files.maxPartitionBytes": "64m",
    "spark.driver.memory": "16g"}})
spark.sparkContext.setLogLevel("ERROR")
def noop(batches):
    tot = 0
    for b in batches:
        tot += b.column(b.schema.get_field_index("bytes")).nbytes
    yield pa.RecordBatch.from_pydict({{"l": [tot]}})
def fresh():
    return spark.read.parquet("{data_dir}").mapInArrow(noop, "l long")
fresh().write.mode("overwrite").format("noop").save()
best = 1e9
for _ in range(2):
    t0 = time.time()
    fresh().write.mode("overwrite").format("noop").save()
    best = min(best, time.time() - t0)
print(best)
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    return float(lines[-1])


def main() -> None:
    data_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else "/tmp/scaling_clips_48x30000/clips"
    )
    res: dict = {}

    cpu1 = fanout(CPU_CODE, 1)
    cpu32 = fanout(CPU_CODE, 32)
    res["cpu_scaling_efficiency_32proc"] = round(
        sum(cpu1) / (sum(cpu32) / 32), 3
    )

    mem = {}
    for n in (1, 4, 16):
        mem[n] = round(sum(fanout(MEM_CODE, n)), 2)
    res["memcpy_aggregate_GBps"] = mem

    import os

    if os.path.exists(data_dir):
        import glob

        sz = sum(
            os.path.getsize(f) for f in glob.glob(f"{data_dir}/*.parquet")
        ) / 2**30
        for c in (8, 32):
            t = arrow_probe(data_dir, c)
            res[f"arrow_noop_local{c}_GBps"] = round(sz / t, 2)

    print(json.dumps(res))


if __name__ == "__main__":
    main()
