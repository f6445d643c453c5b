"""Cross-JVM parallelism-invariance check (north_rule exact-match evidence):
run the FULL scheduler in two separate subprocesses — local[2] and local[8],
different shuffle-partition counts — on the same deterministic corpus and
assert identical crawl order and URL-seen set. Prints one JSON line."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, sys
sys.path.insert(0, %(repo)r)
from cord19_crawler_spark.session import get_spark
from cord19_crawler_spark.datagen import generate_documents, seed_urls
from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig

cpus = int(sys.argv[1]); ckpt = sys.argv[2]
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus * 3,
                  extra_conf={"spark.driver.memory": "8g"})
docs = generate_documents(spark, 2000, partitions=cpus * 4).cache()
# compact_every=2: rounds 3-5 read through compaction snapshots, so the
# check also covers the compaction write and read path
cfg = SchedulerConfig(batch_size=100, seen_partitions=8, bloom_bits=1 << 18,
                      min_delay_rounds=2, max_in_flight=5, compact_every=2)
s = CrawlScheduler(spark, docs, ckpt, cfg)
s.run(5, seeds=seed_urls(spark, 40, 2000))
out = {"order": s.crawl_order(), "seen": sorted(s.seen_set())}
print("RESULT" + json.dumps(out))
"""


def run(cpus: int, ckpt: str) -> dict:
    script = _WORKER % {"repo": REPO}
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cpus), ckpt],
        capture_output=True, text=True, env=env, timeout=1200,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"parallelism worker (cpus={cpus}) failed rc={out.returncode}; "
            f"stderr tail:\n{out.stderr[-2000:]}"
        )
    return json.loads(lines[-1][len("RESULT"):])


def main() -> None:
    import shutil

    low = int(os.environ.get("SPARK_GRAFT_PAR_LOW", "2"))
    high = int(os.environ.get("SPARK_GRAFT_PAR_HIGH", "8"))
    shutil.rmtree(f"/tmp/par_ck{low}", ignore_errors=True)
    shutil.rmtree(f"/tmp/par_ck{high}", ignore_errors=True)
    r2 = run(low, f"/tmp/par_ck{low}")
    r8 = run(high, f"/tmp/par_ck{high}")
    result = {
        "levels": [low, high],
        "crawl_order_len": len(r2["order"]),
        "seen_size": len(r2["seen"]),
        "order_identical": r2["order"] == r8["order"],
        "seen_identical": r2["seen"] == r8["seen"],
    }
    print(json.dumps(result))
    assert result["order_identical"] and result["seen_identical"], result


if __name__ == "__main__":
    main()
